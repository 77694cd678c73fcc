package explorerbench

import graft.chain._

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

/** Zipf(s) over ranks 0..n-1 by inverse CDF: rank 0 is the most likely.
  * Draws are a pure function of the random stream, so one seed gives one
  * sequence.
  */
final class Zipf(val n: Int, val s: Double) {
  require(n >= 1 && s > 0, "Zipf needs n >= 1 and s > 0")
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** A box the generator created, with what the lookups need to know of it. */
final case class GenBox(id: String, value: Long, tree: String, height: Int,
  tokens: Seq[String])

/** One block of the winning chain and the UTXO change it made. */
final case class GenBlock(raw: RawBlock, created: Seq[GenBox], spent: Seq[GenBox],
  rows: Map[String, Long])

/** Seeded chain generator with a model of the winning chain.
  *
  * Economics follow [[ChainFixture]]: every user tx spends two boxes, pays
  * [[ChainFixture.TxFee]] into a fee box and splits the rest over two
  * outputs; the coinbase (last tx) mints `minerReward(h) + fees`. What the
  * generator adds is seeded variety: the number of user txs per block, the
  * boxes spent, token mints and transfers, data inputs, and user-output
  * scripts drawn Zipf over [[ChainGen.Scripts]] scripts of
  * [[ChainFixture.script]], so a few scripts are hot (the hot-key learner's
  * threshold is crossed by real traffic) and most are cold.
  *
  * The model is the state an explorer must show after ingesting the
  * generated blocks: the winning chain, its UTXO set, the boxes it spent,
  * the entity row counts, and the ids of every block a reorg replaced.
  */
final class ChainGen(seed: Long) {
  import ChainGen._

  private val rng = new SplittableRandom(seed)
  private val scriptZipf = new Zipf(Scripts, ScriptZipfS)

  val chain = mutable.ArrayBuffer.empty[GenBlock]
  val unspent = mutable.LinkedHashMap.empty[String, GenBox]
  val spent = mutable.LinkedHashMap.empty[String, GenBox]
  val losingIds = mutable.ArrayBuffer.empty[String]
  val forkDepths = mutable.ArrayBuffer.empty[Int]
  // spendable pool with O(1) random pick and removal (swap with last)
  private val pool = mutable.ArrayBuffer.empty[String]
  private val poolIx = mutable.HashMap.empty[String, Int]
  private var branch = 0

  def tipHeight: Int = chain.lastOption.map(_.raw.header.height).getOrElse(0)
  def tipId: String = chain.lastOption.map(_.raw.header.id).getOrElse(ChainFixture.GenesisParentId)

  private def poolAdd(id: String): Unit = { poolIx(id) = pool.size; pool += id }
  private def poolRemove(id: String): Unit = poolIx.remove(id).foreach { i =>
    val last = pool.remove(pool.size - 1)
    if (last != id) { pool(i) = last; poolIx(last) = i }
  }
  private def poolTake(): GenBox = {
    val b = unspent(pool(rng.nextInt(pool.size)))
    poolRemove(b.id); b
  }

  /** Append `n` blocks to the winning chain and return them. */
  def extend(n: Int): Seq[RawBlock] = (1 to n).map(_ => nextBlock().raw)

  /** Replace the top `depth` blocks by a new branch one block longer, the
    * way a node hands over a linked winning branch. Returns the branch.
    */
  def reorg(depth: Int): Seq[RawBlock] = {
    require(depth >= 1 && depth < chain.size, s"reorg depth $depth on ${chain.size} blocks")
    (1 to depth).foreach(_ => rollback())
    forkDepths += depth
    branch += 1
    extend(depth + 1)
  }

  private def rollback(): Unit = {
    val b = chain.remove(chain.size - 1)
    losingIds += b.raw.header.id
    b.created.foreach { c => unspent.remove(c.id); poolRemove(c.id) }
    b.spent.foreach { s => spent.remove(s.id); unspent(s.id) = s; poolAdd(s.id) }
  }

  private def nextBlock(): GenBlock = {
    val h = tipHeight + 1
    val salt = s"$seed:$branch"
    val created = mutable.ArrayBuffer.empty[GenBox]
    val spentHere = mutable.ArrayBuffer.empty[GenBox]
    val feeBoxes = mutable.ArrayBuffer.empty[GenBox]
    var assets, dataInputs, registers, tokens = 0L
    val nUser = math.min(rng.nextInt(MaxUserTxs + 1), pool.size / 2)
    val userTxs = (0 until nUser).flatMap { i =>
      val b1 = poolTake(); val b2 = poolTake()
      // two dust boxes cannot pay the fee and two outputs: leave them
      if (b1.value + b2.value < 8 * ChainFixture.TxFee) {
        poolAdd(b1.id); poolAdd(b2.id); None
      } else Some {
      spentHere += b1; spentHere += b2
      val total = b1.value + b2.value - ChainFixture.TxFee
      val o1v = total / 2 + rng.nextLong(total / 4 + 1)
      val mint = rng.nextInt(4) == 0
      // tokens ride on the first input; the second input's tokens burn
      val outTokens = ((if (mint) Seq(b1.id) else Nil) ++ b1.tokens).take(MaxTokensPerBox)
      val regs =
        if (mint) Map(
          "R4" -> RegisterParser.encodeUtf8(s"token$h.$i"),
          "R5" -> RegisterParser.encodeUtf8("minted"),
          "R6" -> RegisterParser.encodeInt(2))
        else Map.empty[String, String]
      val out1 = RawOutput(ChainGen.sha256Hex(s"box:$salt:$h:$i:0"), o1v, h,
        ChainFixture.script(scriptZipf.draw(rng)),
        outTokens.map(t => RawAsset(t, if (t == b1.id) 1000L + h else 1L)), regs)
      val out2 = RawOutput(ChainGen.sha256Hex(s"box:$salt:$h:$i:1"), total - o1v, h,
        ChainFixture.script(scriptZipf.draw(rng)), Nil, Map.empty)
      val feeOut = RawOutput(ChainGen.sha256Hex(s"box:$salt:$h:$i:f"), ChainFixture.TxFee, h,
        ChainFixture.FeeTree, Nil, Map.empty)
      val dataIn =
        if (pool.nonEmpty && rng.nextInt(5) == 0) Seq(RawDataInput(pool(rng.nextInt(pool.size))))
        else Nil
      assets += out1.assets.size; dataInputs += dataIn.size
      registers += regs.size; if (mint) tokens += 1
      Seq(out1, out2).foreach(o => created += ChainGen.box(o, h))
      feeBoxes += ChainGen.box(feeOut, h)
      val proof = SpendingProof(Some(ChainGen.sha256Hex(s"proof:$salt:$h:$i").take(32)), "{}")
      RawTx(ChainGen.sha256Hex(s"tx:$salt:$h:$i"),
        Seq(RawInput(b1.id, Some(proof)), RawInput(b2.id, Some(proof))),
        dataIn, Seq(out1, out2, feeOut), Some(300 + rng.nextInt(100)))
      }
    }
    val reward = ChainConst.minerRewardAtScala(h.toLong)
    val cbOut = RawOutput(ChainGen.sha256Hex(s"cb:$salt:$h"), reward + userTxs.size * ChainFixture.TxFee,
      h, ChainFixture.minerScript(h), Nil, Map.empty)
    created += ChainGen.box(cbOut, h)
    val txs = userTxs :+ RawTx(ChainGen.sha256Hex(s"cbtx:$salt:$h"), Nil, Nil, Seq(cbOut), Some(200))
    val id = ChainGen.sha256Hex(s"blk:$salt:$h")
    val raw = RawBlock(
      RawHeader(id = id, parentId = tipId, version = 2, height = h, nBits = 0x1b03a30cL,
        difficulty = new java.math.BigDecimal(1000000L + h),
        timestamp = ChainGen.GenesisTs + h.toLong * 120000L,
        stateRoot = ChainGen.md5Hex(s"state:$salt:$h"),
        adProofsRoot = ChainGen.md5Hex(s"adp:$salt:$h"),
        transactionsRoot = ChainGen.md5Hex(s"txr:$salt:$h"),
        extensionHash = ChainGen.md5Hex(s"ext:$salt:$h"),
        minerPk = ChainGen.md5Hex(s"minerpk:${h % 5}"),
        w = ChainGen.md5Hex(s"w:$h"), n = ChainGen.md5Hex(s"n:$h").take(16),
        d = "0", votes = "000000"),
      RawTransactions(id, txs),
      RawExtension(id, ChainGen.md5Hex(s"extd:$salt:$h"), "{}"),
      adProofs = None,
      size = 1000 + txs.flatMap(_.size).sum)
    spentHere.foreach { s => unspent.remove(s.id); spent(s.id) = s }
    // fee boxes stay unspent, as in ChainFixture: only user boxes are spendable
    created.foreach { c => unspent(c.id) = c; poolAdd(c.id) }
    feeBoxes.foreach(f => unspent(f.id) = f)
    created ++= feeBoxes
    val rows = Map("blocks" -> 1L, "txs" -> txs.size.toLong,
      "outputs" -> created.size.toLong, "inputs" -> 2L * userTxs.size, "assets" -> assets,
      "data_inputs" -> dataInputs, "registers" -> registers, "tokens" -> tokens)
    val b = GenBlock(raw, created.toSeq, spentHere.toSeq, rows)
    chain += b
    b
  }

  // ---- the model an ingested warehouse must match ----

  def rowCounts: Map[String, Long] =
    ChainGen.Entities.map(e => e -> chain.iterator.map(_.rows(e)).sum).toMap
  def utxoValueSum: Long = unspent.valuesIterator.map(_.value).sum
  def allBoxes: Iterator[GenBox] = unspent.valuesIterator ++ spent.valuesIterator

  /** The tip's cumulative columns as [[BlockDerivation]] defines them. */
  def tipCumulative: Map[String, Long] = {
    val raws = chain.map(_.raw)
    def txs(b: RawBlock) = b.transactions.transactions
    val fees = raws.map(b => txs(b).flatMap(_.outputs).filter(_.ergoTree == ChainFixture.FeeTree).map(_.value).sum)
    val rewards = raws.map(b => ChainConst.minerRewardAtScala(b.header.height.toLong))
    val outSums = raws.map(b => txs(b).flatMap(_.outputs).map(_.value).sum)
    Map(
      "height" -> tipHeight.toLong,
      "blockChainTotalSize" -> raws.map(_.size.toLong).sum,
      "totalTxsCount" -> raws.map(txs(_).size.toLong).sum,
      "totalMiningTime" -> (raws.last.header.timestamp - raws.head.header.timestamp),
      "totalFees" -> fees.sum,
      "totalMinersReward" -> rewards.sum,
      "totalCoinsInTxs" -> outSums.indices.map(i => outSums(i) - rewards(i) - fees(i)).sum,
      "maxTxGix" -> (raws.map(txs(_).size.toLong).sum - 1),
      "maxBoxGix" -> (chain.map(_.created.size.toLong).sum - 1))
  }

  /** Input descriptors recorded with every run. */
  def descriptors: Map[String, Any] = Map(
    "blocks" -> chain.size, "tip_height" -> tipHeight,
    "rows_per_block" -> rowCounts.map { case (e, n) => e -> n.toDouble / chain.size.max(1) },
    "distinct_scripts" -> allBoxes.map(_.tree).toSet.size,
    "forks" -> forkDepths.size, "fork_depths" -> forkDepths.toList,
    "height_bucket_position" -> tipHeight % ChainConst.HeightBucketSize)
}

object ChainGen {
  val GenesisTs = 1600000000000L
  // Traffic shape. These are assumptions, not measurements: no mainnet
  // block dump is in the repository to fit them to.
  /** Distinct user-output scripts, drawn Zipf([[ScriptZipfS]]) by popularity. */
  val Scripts = 64
  val ScriptZipfS = 1.1
  /** User txs per block are uniform over 0..MaxUserTxs. */
  val MaxUserTxs = 6
  val MaxTokensPerBox = 3
  val Entities: Seq[String] = Seq("blocks", "txs", "outputs", "inputs", "assets",
    "data_inputs", "registers", "tokens")

  private def box(o: RawOutput, h: Int): GenBox =
    GenBox(o.boxId, o.value, o.ergoTree, h, o.assets.map(_.tokenId))

  private def digestHex(alg: String, s: String): String =
    MessageDigest.getInstance(alg).digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  def sha256Hex(s: String): String = digestHex("SHA-256", s)
  def md5Hex(s: String): String = digestHex("MD5", s)

  /** The warehouse's `ergoTreeHash`: sha256 over the tree's bytes. */
  def treeHash(treeHex: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(treeHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
      .map("%02x".format(_)).mkString

  /** One block as a JSON line in [[BlockSource.schema]]'s shape. */
  def toJson(b: RawBlock): String = {
    def s(v: String) = Json.str(v)
    def obj(kv: (String, String)*) = kv.map { case (k, v) => s"${s(k)}:$v" }.mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")
    val h = b.header
    obj(
      "header" -> obj("id" -> s(h.id), "parentId" -> s(h.parentId), "version" -> h.version.toString,
        "height" -> h.height.toString, "nBits" -> h.nBits.toString,
        "difficulty" -> h.difficulty.toPlainString, "timestamp" -> h.timestamp.toString,
        "stateRoot" -> s(h.stateRoot), "adProofsRoot" -> s(h.adProofsRoot),
        "transactionsRoot" -> s(h.transactionsRoot), "extensionHash" -> s(h.extensionHash),
        "minerPk" -> s(h.minerPk), "w" -> s(h.w), "n" -> s(h.n), "d" -> s(h.d),
        "votes" -> s(h.votes)),
      "transactions" -> obj("headerId" -> s(b.transactions.headerId),
        "transactions" -> arr(b.transactions.transactions.map { t =>
          obj("id" -> s(t.id),
            "inputs" -> arr(t.inputs.map(i => obj("boxId" -> s(i.boxId),
              "spendingProof" -> i.spendingProof.map(p => obj(
                "proofBytes" -> p.proofBytes.map(s).getOrElse("null"),
                "extension" -> s(p.extension))).getOrElse("null")))),
            "dataInputs" -> arr(t.dataInputs.map(d => obj("boxId" -> s(d.boxId)))),
            "outputs" -> arr(t.outputs.map(o => obj("boxId" -> s(o.boxId),
              "value" -> o.value.toString, "creationHeight" -> o.creationHeight.toString,
              "ergoTree" -> s(o.ergoTree),
              "assets" -> arr(o.assets.map(a => obj("tokenId" -> s(a.tokenId),
                "amount" -> a.amount.toString))),
              "additionalRegisters" -> obj(o.additionalRegisters.toSeq.sortBy(_._1)
                .map { case (k, v) => k -> s(v) }: _*)))),
            "size" -> t.size.map(_.toString).getOrElse("null"))
        })),
      "extension" -> obj("headerId" -> s(b.extension.headerId),
        "digest" -> s(b.extension.digest), "fields" -> s(b.extension.fields)),
      "adProofs" -> "null",
      "size" -> b.size.toString)
  }
}
