package explorerbench

import graft.GraftEngine
import graft.chain.{BlockDerivation, BlockSource, ForkResolver}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The only workload that writes. Set-up ingests `HistoryBlocks` generated
  * blocks into a fresh warehouse with [[GraftEngine]] defaults. Then:
  *
  *  - catch-up (closed loop): [[GraftEngine.backfill]] of one JSON-lines
  *    chunk of `ChunkBlocks` blocks, common path only;
  *  - live (open loop): for `seconds`, one block file lands atomically in
  *    [[graft.streaming.ChainIngest.start]]'s source directory every
  *    `1 / RatePerS` seconds, under a short fixed trigger. One seeded tick
  *    delivers a reorg instead: a whole winning branch re-IDed from `d`
  *    blocks below the generator's tip, one block longer than what it
  *    replaces.
  *
  * Every common-path batch commits one UTXO delta and one hot-key delta,
  * and the one that brings either to `compactEvery` (8) also compacts it;
  * a fork batch rebuilds the UTXO base. An untraced run commits too few
  * batches to compact: each costs seconds, and 6 more would make every run
  * about half a minute longer.
  * A traced run backfills its history as `CompactEvery - 2` chunks, so
  * set-up and catch-up commit 7 deltas and its first live batch is always
  * the compaction batch; the reorg's batch comes later. Its warm set-up
  * chunks alternate tracing off and on, which gives the tracing overhead.
  *
  * A block's freshness runs from when its file was due to land to the end
  * of the micro-batch that took it, which is when its outputs are visible
  * in the UTXO view. Blocks are mapped to batches exactly, from the file
  * source's checkpointed file log.
  */
final class Ingest(spark: SparkSession, trace: Trace, seed: Long, seconds: Int, work: String)
  extends Workload(spark, trace, seed, seconds, work) {
  import Ingest._

  def run(): Result = {
    val gen = new ChainGen(seed)
    val rng = new SplittableRandom(seed * 7919 + 1)
    val wh = s"$work/warehouse"
    var inputBytes = 0L
    def chunk(name: String, blocks: Int): String = {
      val path = s"$work/input/$name.json"
      inputBytes += writeBlocks(gen.extend(blocks), path)
      path
    }
    val historyChunks = if (trace.enabled) CompactEvery - 2 else 1
    val setupChunkMs = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val (engine, setupMs, setupSteal) = measured {
      val e = new GraftEngine(spark, wh)
      (1 to historyChunks).foreach { i =>
        val path = chunk(s"history$i", HistoryBlocks / historyChunks)
        trace.active = i > 1 && i % 2 == 1
        setupChunkMs += trace.active -> timed(trace.span("GraftEngine.backfill")(e.backfill(path)))._2
        trace.active = false
      }
      e
    }
    sampleHeap()

    // ---- catch-up: closed-loop backfill of a whole chunk, common path ----
    val catchupPath = chunk("catchup", ChunkBlocks)
    val (_, catchupMs, catchupSteal) = measured(engine.backfill(catchupPath))
    val deltasBeforeLive = liveDeltas(wh)
    trace.active = trace.enabled
    val gc0 = gcMs()
    val tTrace0 = now()

    // ---- live: open-loop block files under ChainIngest.start ----
    val src = s"$work/live/source"
    val ckpt = s"$work/live/checkpoint"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val progress = new Trace.Progress
    spark.streams.addListener(progress)
    val liveTicks = Steal.ticks()
    val query = engine.ingest.start(spark, src, ckpt, Trigger.ProcessingTime(s"$TriggerMs milliseconds"))
    val ready = now() + 15000
    while (!query.status.message.startsWith("Waiting for next trigger") && now() < ready)
      Thread.sleep(50)
    val ticks = (seconds * RatePerS).toInt
    val reorgTick = ticks / 2
    val reorgDepth = ReorgDepths(rng.nextInt(ReorgDepths.size))
    val landed = mutable.ArrayBuffer.empty[Landed]
    val live0 = now() + 200
    for (k <- 0 until ticks) {
      val due = live0 + (k * 1000 / RatePerS).toLong
      val wait = due - now()
      if (wait > 0) Thread.sleep(wait)
      val reorg = k == reorgTick
      val blocks = if (reorg) gen.reorg(reorgDepth) else gen.extend(1)
      val name = f"block-$k%05d.json"
      inputBytes += writeBlocks(blocks, s"$src/$name")
      landed += Landed(name, due, now(), blocks.size, reorg)
    }
    // drain: every landed file must be taken by a batch that completed
    val drainDeadline = now() + DrainTimeoutMs
    def complete: Boolean = {
      val fb = Trace.fileBatches(ckpt); val done = progress.batches
      landed.forall(l => fb.get(l.file).exists(done.contains))
    }
    while (!complete && now() < drainDeadline) Thread.sleep(100)
    val drained = complete
    val liveSteal = Steal.share(liveTicks, Steal.ticks())
    query.stop()
    spark.streams.removeListener(progress)
    val fileBatch = Trace.fileBatches(ckpt)
    val batches = progress.batches

    val hotKeysCompacted = dirs(s"$wh/hot_keys/base").nonEmpty
    val tTrace1 = now()
    trace.drain()
    trace.active = false
    sampleHeap()

    // ---- freshness from the exact block → batch mapping ----
    val fresh = landed.toSeq.flatMap { l =>
      fileBatch.get(l.file).flatMap(batches.get)
        .map(b => Seq.fill(l.blocks)((b._2 - l.due) * (1 - liveSteal)))
        .getOrElse(Nil)
    }
    def visibleBy(t: Long) = landed.filter(l => fileBatch.get(l.file).flatMap(batches.get).exists(_._2 <= t))
    val backlogMax = batches.values.map { case (_, end, _) =>
      landed.filter(_.at <= end).map(_.blocks).sum - visibleBy(end).map(_.blocks).sum
    }.maxOption.getOrElse(0)
    val lagMax = landed.map(l => l.at - l.due).maxOption.getOrElse(0L)

    // ---- output checks against the generator's model ----
    val checks = checkWarehouse(engine, gen)
    val lost = landed.count(l => !fileBatch.get(l.file).exists(batches.contains))
    val failed = lost + (if (checks.values.forall(identity)) 0 else 1)

    val tail = Stats.tail(fresh)
    val endToEnd = Map(
      "setup_s" -> setupMs * (1 - setupSteal) / 1000,
      "live_heap_peak_mb" -> heapPeakMb,
      "latency_p50_ms" -> (if (fresh.isEmpty) 0.0 else Stats.median(fresh)),
      "latency_tail_ms" -> tail.map(_._2).orElse(fresh.maxOption).getOrElse(0.0),
      "throughput_per_s" -> ChunkBlocks / (catchupMs * (1 - catchupSteal) / 1000))

    val perLayer = if (!trace.enabled) Map.empty[String, Double] else {
      val warm = setupChunkMs.drop(1)
      def med(traced: Boolean) = Stats.median(warm.filter(_._1 == traced).map(_._2).toSeq)
      layers(engine, catchupPath, med(true) / med(false), landed.toSeq, fileBatch, batches,
        tTrace0, tTrace1, gc0, inputBytes, backlogMax, lagMax)
    }

    // in a traced run the first live batch must be the one that compacts
    val compacted = if (!trace.enabled) Map.empty else Map(
      "first_live_batch_compacts" -> (deltasBeforeLive == CompactEvery - 1),
      "hot_keys_compacted" -> hotKeysCompacted)
    Result(historyChunks + 1L + ticks, failed, checks ++ compacted ++ Map("drained" -> drained),
      endToEnd, perLayer,
      Map("history_blocks" -> HistoryBlocks, "history_chunks" -> historyChunks,
        "setup_chunk_ms" -> setupChunkMs.map { case (t, ms) => Map("traced" -> t, "ms" -> ms) }.toSeq,
        "chunk_blocks" -> ChunkBlocks, "utxo_deltas_before_live" -> deltasBeforeLive,
        "rate_blocks_per_s" -> RatePerS, "trigger_ms" -> TriggerMs, "ticks" -> ticks,
        "reorg_tick" -> reorgTick, "reorg_depth" -> reorgDepth,
        "live_blocks" -> landed.map(_.blocks).sum, "input" -> gen.descriptors,
        "freshness_ms" -> latencyInfo(fresh),
        "batches" -> batches.toSeq.sortBy(_._1).map { case (id, (s, e, d)) =>
          Map("id" -> id, "start_ms" -> (s - live0), "end_ms" -> (e - live0),
            "files" -> fileBatch.count(_._2 == id), "add_batch_ms" -> d.get("addBatch"))
        },
        "wall_ms" -> Map("setup" -> setupMs, "catchup" -> catchupMs),
        "stolen_share" -> Map("setup" -> setupSteal, "catchup" -> catchupSteal, "live" -> liveSteal),
        "backlog_blocks_max" -> backlogMax,
        "generator_lag_ms_max" -> lagMax,
        "warehouse_bytes_per_input_byte" -> dirBytes(wh).toDouble / inputBytes))
  }

  /** The final warehouse must show exactly the model's winning chain. */
  private def checkWarehouse(engine: GraftEngine, gen: ChainGen): Map[String, Boolean] = {
    val t = engine.tables
    val blocks = t.blocks.select("blockId", "height", "blockChainTotalSize", "totalTxsCount",
      "totalMiningTime", "totalFees", "totalMinersReward", "totalCoinsInTxs", "maxTxGix", "maxBoxGix")
    val tip = blocks.orderBy(desc("height")).limit(1).collect().headOption
    val cum = gen.tipCumulative
    val utxo = engine.utxos.agg(count(lit(1)), sum("ergValue")).head()
    val losers = gen.losingIds.toSet
    val resolved = ForkResolver.losingBlockIds(spark.read.parquet(s"${engine.ingest.warehouse}/raw"))
    val seen = t.blocks.agg(count(lit(1)),
      coalesce(sum(when(col("blockId").isin(losers.toSeq: _*), 1).otherwise(0)), lit(0L))).head()
    Map(
      "block_count" -> (seen.getLong(0) == gen.chain.size),
      "tip_id" -> tip.exists(_.getAs[String]("blockId") == gen.tipId),
      "tip_cumulative" -> tip.exists(r => cum.forall { case (c, v) =>
        r.getAs[Any](c).asInstanceOf[Number].longValue == v }),
      "utxo_count" -> (utxo.getLong(0) == gen.unspent.size),
      "utxo_value_sum" -> (utxo.getLong(1) == gen.utxoValueSum),
      "fork_resolver_finds_losers" -> losers.subsetOf(resolved),
      "no_losing_block_visible" -> (seen.getLong(1) == 0))
  }

  /** `v=<n>` directories under `path`: committed UTXO or hot-key versions. */
  private def dirs(path: String): Seq[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val s = java.nio.file.Files.list(p)
      try s.iterator.asScala.map(_.getFileName.toString).filter(_.matches("v=\\d+")).toSeq
      finally s.close()
    }
  }

  /** UTXO deltas committed since the newest base: the count compaction
    * folds in once it reaches `compactEvery`.
    */
  private def liveDeltas(wh: String): Int = {
    def versions(d: String) = dirs(s"$wh/utxo/$d").map(_.drop(2).toLong)
    val base = versions("base").maxOption.getOrElse(-1L)
    versions("delta").count(_ > base)
  }

  private def layers(engine: GraftEngine, chunkPath: String, overheadRatio: Double,
    landed: Seq[Landed], fileBatch: Map[String, Long],
    batches: Map[Long, (Long, Long, Map[String, Long])],
    t0: Long, t1: Long, gc0: Long, inputBytes: Long,
    backlogMax: Int, lagMax: Long): Map[String, Double] = {
    trace.active = true
    // decode alone, then derivation alone over the decoded chunk
    val decodeMs = timed(trace.span("BlockSource.fromJsonLines")(
      BlockSource.fromJsonLines(spark, chunkPath).foreach((_: graft.chain.RawBlock) => ())))._2
    val decoded = BlockSource.fromJsonLines(spark, chunkPath).localCheckpoint()
    val (rows, deriveMs) = timed(trace.span("BlockDerivation.derive") {
      val d = BlockDerivation.derive(decoded)
      Map("blocks" -> d.blocks, "txs" -> d.txs, "outputs" -> d.outputs, "inputs" -> d.inputs,
        "assets" -> d.assets, "data_inputs" -> d.dataInputs, "registers" -> d.registers,
        "tokens" -> d.tokens).map { case (e, df) => e -> df.count() }
    })
    val raw = spark.read.parquet(s"${engine.ingest.warehouse}/raw")
    val (_, losingMs) = timed(trace.span("ForkResolver.losingBlockIds")(ForkResolver.losingBlockIds(raw)))
    trace.drain()
    trace.active = false

    // classify live batches: the reorg's batch is the fork batch; a batch
    // that wrote a new UTXO base on the common path compacted; the rest are
    // common
    val qs = trace.queriesIn(t0, t1)
    val reorgBatch = landed.find(_.reorg).flatMap(l => fileBatch.get(l.file))
    val kinds = batches.toSeq.map { case (id, (s, e, d)) =>
      val kind =
        if (reorgBatch.contains(id)) "fork"
        else if (qs.exists(q => q.end >= s && q.end <= e + 50 && q.outputPath.exists(_.contains("/utxo/base/")))) "compaction"
        else "common"
      (kind, s, e, d)
    }
    kinds.foreach { case (kind, s, e, d) =>
      trace.record(s"ChainIngest.batch.$kind", s, e, Map(
        "jobs" -> trace.jobsIn(s, e).toDouble,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L).toDouble))
    }
    def avg(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ofKind(k: String) = kinds.filter(_._1 == k)
    val batchCount = kinds.size.max(1)
    val blocksIngested = landed.map(_.blocks).sum
    val writes = WriteTargets.map { tgt =>
      s"ChainIngest.write_ms.$tgt" -> qs.filter(_.outputPath.exists(p => targetOf(p).contains(tgt)))
        .map(_.execMs).sum / batchCount
    }
    val streamAvg = (k: String) => avg(kinds.map(_._4.getOrElse(k, 0L).toDouble))
    val gen0 = rows.map { case (e, n) => s"BlockDerivation.rows_per_block.$e" -> n.toDouble / ChunkBlocks }
    gen0 ++ writes ++ Map(
      "BlockSource.decode_ms_per_block" -> decodeMs / ChunkBlocks,
      "BlockDerivation.derive_ms_per_block" -> deriveMs / ChunkBlocks,
      "ChainIngest.batch_ms.common" -> avg(ofKind("common").map(_._4.getOrElse("addBatch", 0L).toDouble)),
      "ChainIngest.batch_ms.compaction" -> avg(ofKind("compaction").map(_._4.getOrElse("addBatch", 0L).toDouble)),
      "ChainIngest.batch_ms.fork" -> avg(ofKind("fork").map(_._4.getOrElse("addBatch", 0L).toDouble)),
      "ChainIngest.jobs_per_batch.common" -> avg(ofKind("common").map(k => trace.jobsIn(k._2, k._3).toDouble)),
      "ChainIngest.jobs_per_batch.fork" -> avg(ofKind("fork").map(k => trace.jobsIn(k._2, k._3).toDouble)),
      "ChainIngest.plan_ms_per_batch" -> avg(kinds.map(k =>
        qs.filter(q => q.end >= k._2 && q.end <= k._3 + 50).map(_.planMs).sum)),
      "ChainIngest.bytes_written_per_block" -> qs.map(_.bytesWritten).sum.toDouble / blocksIngested,
      "ChainIngest.files_written_per_batch" -> qs.map(_.filesWritten).sum.toDouble / batchCount,
      "ChainIngest.warehouse_bytes_per_input_byte" -> dirBytes(engine.ingest.warehouse).toDouble / inputBytes,
      "ForkResolver.losing_ids_ms" -> losingMs,
      "stream.latest_offset_ms" -> streamAvg("latestOffset"),
      "stream.get_batch_ms" -> streamAvg("getBatch"),
      "stream.wal_commit_ms" -> streamAvg("walCommit"),
      "stream.backlog_blocks_max" -> backlogMax.toDouble,
      "stream.generator_lag_ms_max" -> lagMax.toDouble,
      "trace.overhead_ratio" -> overheadRatio) ++
      sparkLayer(t0, t1, gc0)
  }
}

object Ingest {
  /** One block file of the live window: when it was due, when it landed. */
  final case class Landed(file: String, due: Long, at: Long, blocks: Int, reorg: Boolean)

  /** `compactEvery` of the engine's ingest: its default, left as it is. */
  val CompactEvery = 8
  val HistoryBlocks = 60
  val ChunkBlocks = 100
  val RatePerS = 4.0
  val TriggerMs = 500
  val ReorgDepths: Seq[Int] = Seq(2, 3)
  val DrainTimeoutMs = 60000L
  val WriteTargets: Seq[String] = Seq("raw", "blocks", "txs", "outputs", "inputs", "assets",
    "data_inputs", "registers", "tokens", "utxo_delta", "utxo_base", "hot_keys")

  /** The warehouse table a write's output path belongs to. */
  def targetOf(path: String): Option[String] = {
    val p = path.replace('\\', '/')
    if (p.contains("/utxo/delta")) Some("utxo_delta")
    else if (p.contains("/utxo/base")) Some("utxo_base")
    else if (p.contains("/hot_keys")) Some("hot_keys")
    else WriteTargets.find(t => p.endsWith(s"/$t") || p.contains(s"/$t/"))
  }
}
