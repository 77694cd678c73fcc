package explorerbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Runs one workload and writes what it measured as JSON:
  *
  * {{{
  * explorerbench.Main --workload <ingest|lookups> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --data <sf dir>
  *   --result <file> --trace-file <file>
  * }}}
  *
  * `run.py` builds the classpath, starts this main and prints the
  * benchmark's result line from the file it writes.
  */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "lookups")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"explorerbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark, traced)
    trace.install()
    try {
      val t0 = System.currentTimeMillis()
      val w = workload match {
        case "ingest" => new Ingest(spark, trace, seed, seconds, work)
        case "lookups" => new Lookups(spark, trace, seed, seconds, work, arg("data"))
      }
      val r = w.run()
      val layers = if (traced) r.perLayer + ("log.error_lines" -> trace.errorLines.get.toDouble) else Map.empty
      val doc = Map(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> cores, "attempted" -> r.attempted, "failed" -> r.failed,
        "checks" -> r.checks, "end_to_end" -> r.endToEnd, "per_layer" -> layers,
        "info" -> r.info, "wall_s" -> (System.currentTimeMillis() - t0) / 1000.0)
      trace.write(arg("trace-file"), doc)
      Files.writeString(Paths.get(arg("result")), Json.render(doc))
    } finally spark.stop()
    // a pool thread the program leaves behind must not keep the JVM alive
    System.exit(0)
  }
}
