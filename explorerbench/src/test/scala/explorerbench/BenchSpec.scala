package explorerbench

import graft.chain.{BlockDerivation, BlockSource, ForkResolver, RawBlock, UtxoQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private lazy val tmp: Path = Files.createTempDirectory("explorerbench-spec")

  override def afterAll(): Unit = spark.stop()

  test("tail is the highest percentile with at least ten samples beyond it") {
    val cases = Seq(
      9 -> None, 19 -> None, 20 -> Some(50.0), 39 -> Some(50.0), 40 -> Some(75.0),
      50 -> Some(80.0), 100 -> Some(90.0), 200 -> Some(95.0), 1000 -> Some(99.0),
      10000 -> Some(99.9))
    cases.foreach { case (n, want) =>
      val xs = (1 to n).map(_.toDouble)
      val got = Stats.tail(xs)
      assert(got.map(_._1) == want, s"n=$n")
      got.foreach { case (p, v) =>
        assert(xs.count(_ > v) >= 10, s"n=$n p=$p leaves fewer than 10 beyond")
        assert(v == Stats.percentile(xs, p))
      }
    }
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("Zipf draws are a pure function of the seed and favour low ranks") {
    def draws(seed: Long) = {
      val z = new Zipf(50, 1.1); val rng = new SplittableRandom(seed)
      Seq.fill(5000)(z.draw(rng))
    }
    assert(draws(7) == draws(7))
    assert(draws(7) != draws(8))
    val freq = draws(7).groupBy(identity).view.mapValues(_.size).toMap
    assert(draws(7).forall(r => r >= 0 && r < 50))
    assert(freq(0) > freq(1) && freq(1) > freq.getOrElse(10, 0) && freq.getOrElse(10, 0) > freq.getOrElse(40, 0))
  }

  test("three rotations of the lookup schedule run every box operation in every mode") {
    val box = Set("boxesByIds", "boxesByErgoTreeHash", "boxesByAddress", "boxesByTokenId")
    val seen = (0 until 3 * Lookups.Schedule.size)
      .map(s => Lookups.Schedule(s % Lookups.Schedule.size) -> Lookups.modeAt(s))
      .filter(p => box(p._1)).toSet
    assert(seen == (for (op <- box; m <- Lookups.Modes) yield op -> m))
  }

  test("the generator is deterministic per seed and its JSON decodes to the same blocks") {
    val a = new ChainGen(3); val b = new ChainGen(3)
    val blocks = a.extend(30) ++ a.reorg(2)
    assert(blocks == b.extend(30) ++ b.reorg(2))
    assert(new ChainGen(4).extend(30) != blocks.take(30))
    val path = tmp.resolve("roundtrip.json")
    Files.writeString(path, blocks.map(ChainGen.toJson).mkString("\n"))
    // decimals decode at the schema's scale: compare difficulty by value
    def norm(bs: Seq[RawBlock]) = bs.map(b => b.copy(header =
      b.header.copy(difficulty = b.header.difficulty.stripTrailingZeros)))
      .sortBy(b => (b.header.height, b.header.id))
    assert(norm(BlockSource.fromJsonLines(spark, path.toString).collect().toSeq) == norm(blocks))
  }

  test("the generator's model matches the warehouse derivation and UtxoQueries.utxos") {
    import spark.implicits._
    val gen = new ChainGen(11)
    val all = gen.extend(60) ++ gen.reorg(3) ++ gen.extend(5)
    val raw = spark.createDataset[RawBlock](all)
    val t = BlockDerivation.derive(ForkResolver.mainChain(raw))
    assert(ForkResolver.losingBlockIds(raw.toDF()) == gen.losingIds.toSet)
    val counts: Map[String, DataFrame] = Map("blocks" -> t.blocks, "txs" -> t.txs,
      "outputs" -> t.outputs, "inputs" -> t.inputs, "assets" -> t.assets,
      "data_inputs" -> t.dataInputs, "registers" -> t.registers, "tokens" -> t.tokens)
    counts.foreach { case (e, df) => assert(df.count() == gen.rowCounts(e), e) }
    val u = UtxoQueries.utxos(t).agg(count(lit(1)), sum("ergValue")).head()
    assert(u.getLong(0) == gen.unspent.size)
    assert(u.getLong(1) == gen.utxoValueSum)
    val tip = t.blocks.orderBy(desc("height")).limit(1).collect().head
    assert(tip.getAs[String]("blockId") == gen.tipId)
    gen.tipCumulative.foreach { case (c, v) =>
      assert(tip.getAs[Any](c).asInstanceOf[Number].longValue == v, c)
    }
    val hashes = t.outputs.select("ergoTreeHash").distinct().as[String].collect().toSet
    assert(gen.allBoxes.map(b => ChainGen.treeHash(b.tree)).toSet == hashes)
  }

  test("blocks map to micro-batches exactly through the file source's log") {
    import spark.implicits._
    val src = tmp.resolve("stream-src"); Files.createDirectories(src)
    val ckpt = tmp.resolve("stream-ckpt")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val gen = new ChainGen(5)
    def land(name: String, n: Int): Unit = {
      val staged = tmp.resolve(s"$name.tmp")
      Files.writeString(staged, gen.extend(n).map(ChainGen.toJson).mkString("\n"))
      Files.move(staged, src.resolve(name), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val q = spark.readStream.schema(BlockSource.schema).json(src.toString)
      .withColumn("file", input_file_name())
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        df.select("file").distinct().as[String].collect()
          .foreach(f => seen.put(new java.io.File(new java.net.URI(f)).getName, id))
      }.start()
    try {
      // enough batches for the log to write a .compact file (every 10)
      (0 until 12).foreach { i =>
        land(f"b$i%02d.json", 1 + i % 2)
        q.processAllAvailable()
      }
      q.processAllAvailable()
    } finally q.stop()
    val mapped = Trace.fileBatches(ckpt.toString)
    assert(mapped.size == 12)
    assert(mapped == scala.jdk.CollectionConverters.MapHasAsScala(seen).asScala.toMap
      .map { case (k, v) => k -> v.longValue })
  }
}
