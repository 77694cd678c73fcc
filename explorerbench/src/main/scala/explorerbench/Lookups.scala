package explorerbench

import graft.GraftEngine
import graft.chain.{ChainFixture, UtxoQueries}
import graft.chain.UtxoQueries.BoxMode
import graft.functions.CryptoFunctions
import org.apache.spark.sql.SparkSession

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Closed loop of `Clients` clients running a fixed-weight mix of
  * [[GraftEngine]] lookups over a warehouse ingested in set-up. Block and
  * box keys are drawn Zipf over recency rank (explorer traffic favours the
  * tip); scripts and addresses Zipf over script popularity. Every answer's
  * row count is checked against the generator's model.
  *
  * A traced run times the same loop untraced and then traced, and then
  * measures the `queries` layer ([[QueryLayer]]) in the same process.
  */
final class Lookups(spark: SparkSession, trace: Trace, seed: Long, seconds: Int, work: String,
  dataDir: String) extends Workload(spark, trace, seed, seconds, work) {
  import Lookups._

  val clients: Int = math.min(MaxClients, cores)

  def run(): Result = {
    val gen = new ChainGen(seed)
    val wh = s"$work/warehouse"
    val (engine, setupMs, setupSteal) = measured {
      writeBlocks(gen.extend(HistoryBlocks), s"$work/input/history.json")
      val e = new GraftEngine(spark, wh)
      e.backfill(s"$work/input/history.json")
      e
    }
    sampleHeap()
    val model = new Model(gen)

    val windowTicks = Steal.ticks()
    val untraced = loop(engine, model, 0)
    val windowSteal = Steal.share(windowTicks, Steal.ticks())
    sampleHeap()
    val traced = if (trace.enabled) {
      trace.active = true
      val gc0 = gcMs()
      val r = loop(engine, model, 1)
      val tablesMs = (1 to 3).map(_ => timed(trace.span("GraftEngine.tables")(engine.tables))._2)
      trace.drain()
      val spark1 = sparkLayer(r._3, r._4, gc0)
      val q = QueryLayer.measure(spark, trace, seed, dataDir)
      trace.active = false
      Some((r, spark1, tablesMs, q))
    } else None

    val done = untraced._1
    // a failed lookup counts against the run, not in the latency sample
    val lat = done.filter(_.ok).map(_.ms * (1 - windowSteal))
    val failed = done.count(!_.ok)
    val tail = Stats.tail(lat)
    val endToEnd = Map(
      "setup_s" -> setupMs * (1 - setupSteal) / 1000,
      "live_heap_peak_mb" -> heapPeakMb,
      "latency_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat)),
      "latency_tail_ms" -> tail.map(_._2).orElse(lat.maxOption).getOrElse(0.0),
      "throughput_per_s" -> lat.size / (untraced._2 * (1 - windowSteal) / 1000))

    val perLayer = traced.map { case ((tdone, _, t0, t1), sparkMetrics, tablesMs, q) =>
      val qs = trace.queriesIn(t0, t1)
      val n = tdone.size.max(1).toDouble
      val rowsOut = tdone.map(_.rows).sum.max(1L).toDouble
      // a window holds a few lookups of each kind: too few for a tail
      val perOp = Ops.map { case (op, _) =>
        val xs = tdone.filter(_.op == op).map(_.ms)
        s"GraftEngine.$op.p50_ms" -> (if (xs.isEmpty) 0.0 else Stats.median(xs))
      }
      perOp.toMap ++ Map(
        "GraftEngine.tables_ms" -> Stats.median(tablesMs),
        "GraftEngine.plan_ms_per_op" -> qs.map(_.planMs).sum / n,
        "GraftEngine.exec_ms_per_op" -> qs.map(_.execMs).sum / n,
        "GraftEngine.jobs_per_op" -> trace.jobsIn(t0, t1) / n,
        "GraftEngine.files_read_per_op" -> qs.map(_.filesRead).sum / n,
        "GraftEngine.rows_scanned_per_row_returned" -> qs.map(_.rowsScanned).sum / rowsOut,
        "trace.overhead_ratio" -> Stats.median(tdone.map(_.ms)) / Stats.median(done.map(_.ms))) ++
        sparkMetrics ++ q.perLayer
    }.getOrElse(Map.empty)
    val queryMismatches = traced.map(_._4.mismatches).getOrElse(Nil)
    val tracedDone = traced.map(_._1._1).getOrElse(Nil)
    val lookupsFailed = failed + tracedDone.count(!_.ok)

    Result(done.size + tracedDone.size + traced.map(_._4.attempted).getOrElse(0),
      lookupsFailed + queryMismatches.size,
      Map("row_counts_match_model" -> (lookupsFailed == 0),
        "query_rows_match_recorded" -> queryMismatches.isEmpty),
      endToEnd, perLayer,
      Map("queries" -> traced.map(_._4.info), "query_mismatches" -> queryMismatches,
        "history_blocks" -> HistoryBlocks, "clients" -> clients, "input" -> gen.descriptors,
        "latency_ms" -> latencyInfo(lat), "setup_wall_ms" -> setupMs,
        "stolen_share" -> Map("setup" -> setupSteal, "window" -> windowSteal),
        "ops" -> Ops.map { case (op, _) => op -> done.count(_.op == op) }.toMap,
        "failures" -> done.filterNot(_.ok).take(10).map(d => s"${d.op} rows=${d.rows}")))
  }

  /** One closed-loop window: every client issues its next lookup when the
    * previous one returns, and stops at the first end of a whole rotation
    * of [[Schedule]] after `seconds` have passed. So every run holds whole
    * rotations (the same op and box-mode mix at any speed), and at least
    * `clients` × `Schedule.size` lookups. Returns the finished lookups, the
    * window's length in ms and its start and end instants.
    */
  private def loop(engine: GraftEngine, model: Model, pass: Int): (Seq[Done], Double, Long, Long) = {
    val out = new ConcurrentLinkedQueue[Done]()
    val t0 = now()
    val deadline = t0 + seconds * 1000L
    val threads = (0 until clients).map { c =>
      val rng = new SplittableRandom(seed * 1009 + pass * 101 + c)
      val th = new Thread(() => {
        // clients start spread over the rotation, so different ops overlap
        val first = c * Schedule.size / clients
        var step = first
        while (now() < deadline || (step - first) % Schedule.size != 0 || step == first) {
          val (op, run, expected) = model.draw(engine, rng, step)
          step += 1
          val (rows, ms) = timed(scala.util.Try(trace.span(s"GraftEngine.$op")(run())).getOrElse(-1L))
          out.add(Done(op, ms, rows, rows == expected))
        }
      }, s"lookup-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val t1 = now()
    (out.asScala.toSeq, (t1 - t0).toDouble, t0, t1)
  }
}

object Lookups {
  /** One finished lookup: its latency, rows returned and whether the count
    * matched the model.
    */
  final case class Done(op: String, ms: Double, rows: Long, ok: Boolean)

  val HistoryBlocks = 100
  val MaxClients = 4
  // Traffic shape. The weights, the Zipf exponent and the key counts below
  // are assumptions, not measurements: no explorer access log is in the
  // repository to fit them to.
  /** Zipf exponent of key recency rank (blocks, boxes, tokens). */
  val RecencyZipfS = 1.0
  val RangeLen = 10
  val LastN = 10
  val TopK = 10
  val IdsPerLookup = 5
  val Ops: Seq[(String, Int)] = Seq(
    "blockById" -> 2, "blocksInRange" -> 1, "lastBlocks" -> 1, "boxesByIds" -> 1,
    "boxesByErgoTreeHash" -> 1, "boxesByAddress" -> 2, "boxesByTokenId" -> 1,
    "topAddressesByValue" -> 1)
  val Modes: Seq[BoxMode] = Seq(UtxoQueries.Unspent, UtxoQueries.Spent, UtxoQueries.Any)
  /** The weighted operation rotation every client walks through. */
  val Schedule: IndexedSeq[String] = Ops.flatMap { case (op, w) => Seq.fill(w)(op) }.toIndexedSeq

  /** The box mode of a client's `step`-th lookup: it moves on each step
    * and shifts by one each rotation, so a client's rotations take turns
    * over which box operation runs in which mode.
    */
  def modeAt(step: Int): BoxMode = Modes((step + step / Schedule.size) % Modes.size)

  /** Keys and expected answers, from the generator's model alone. */
  final class Model(gen: ChainGen) {
    private val blocks = gen.chain.reverse.map(_.raw.header).toIndexedSeq // rank 0 = tip
    private val boxes = gen.allBoxes.toIndexedSeq.sortBy(b => (-b.height, b.id))
    private val unspent = gen.unspent.keySet.toSet
    private val tokens = boxes.flatMap(_.tokens).distinct // most recent holder first
    private val blockZipf = new Zipf(blocks.size, RecencyZipfS)
    private val boxZipf = new Zipf(boxes.size, RecencyZipfS)
    private val tokenZipf = new Zipf(tokens.size.max(1), RecencyZipfS)
    private val scriptZipf = new Zipf(ChainGen.Scripts, ChainGen.ScriptZipfS)

    private def inMode(b: GenBox, m: BoxMode): Boolean = m match {
      case UtxoQueries.Unspent => unspent(b.id)
      case UtxoQueries.Spent => !unspent(b.id)
      case _ => true
    }
    private def count(m: BoxMode)(p: GenBox => Boolean): Long =
      boxes.count(b => p(b) && inMode(b, m)).toLong

    /** The `step`-th lookup of a client: its name, the call (returning
      * rows) and the row count the model expects. Operations follow a fixed
      * weighted rotation, so every seed runs the same mix; the box mode
      * moves on every step, so a rotation spreads the box operations over
      * all three modes. The keys are drawn from `rng`.
      */
    def draw(e: GraftEngine, rng: SplittableRandom, step: Int): (String, () => Long, Long) = {
      val op = Schedule(step % Schedule.size)
      val mode = modeAt(step)
      def rows(df: => org.apache.spark.sql.DataFrame): () => Long = () => df.collect().length.toLong
      op match {
        case "blockById" =>
          val id = blocks(blockZipf.draw(rng)).id
          (op, rows(e.blockById(id)), 1L)
        case "blocksInRange" =>
          val hi = blocks(blockZipf.draw(rng)).height
          val lo = math.max(1, hi - RangeLen + 1)
          (op, rows(e.blocksInRange(lo, hi)), (hi - lo + 1).toLong)
        case "lastBlocks" =>
          (op, rows(e.lastBlocks(LastN)), math.min(LastN, blocks.size).toLong)
        case "boxesByIds" =>
          val ids = Seq.fill(IdsPerLookup)(boxes(boxZipf.draw(rng))).distinct
          (op, rows(e.boxesByIds(mode, ids.map(_.id))), ids.count(inMode(_, mode)).toLong)
        case "boxesByErgoTreeHash" =>
          val tree = ChainFixture.script(scriptZipf.draw(rng))
          (op, rows(e.boxesByErgoTreeHash(mode, ChainGen.treeHash(tree))), count(mode)(_.tree == tree))
        case "boxesByAddress" =>
          val tree = ChainFixture.script(scriptZipf.draw(rng))
          (op, rows(e.boxesByAddress(mode, CryptoFunctions.ergoTreeToAddress(tree))),
            count(mode)(_.tree == tree))
        case "boxesByTokenId" =>
          val token = tokens(tokenZipf.draw(rng))
          (op, rows(e.boxesByTokenId(mode, token)), count(mode)(_.tokens.contains(token)))
        case "topAddressesByValue" =>
          val scripts = boxes.filter(b => unspent(b.id)).map(_.tree).distinct.size
          (op, rows(e.topAddressesByValue(TopK)), math.min(TopK, scripts).toLong)
      }
    }
  }
}
