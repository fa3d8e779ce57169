package graftbench

import graft.ops.{Par, TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

final case class NearDupIn(docs: DataFrame, fresh: DataFrame, embeddings: DataFrame,
                           texts: Map[Long, String], vectors: Map[Long, Array[Float]])

final case class NearDupOut(pass: Span, minhash: Span, index: Span, incremental: Span,
                            sign: Span, simPairs: Span, lsh: Span, ivfTrain: Span, ivf: Span,
                            minhashPairs: Seq[(Long, Long, Double)],
                            incrementalPairs: Seq[(Long, Long, Double)],
                            simhashes: Map[Long, Long], simhashPairs: Seq[(Long, Long, Int)],
                            lshTopK: Seq[(Long, Long, Double, Int)],
                            ivfTopK: Seq[(Long, Long, Double, Int)]) {
  def simhashS: Double = sign.wallS + simPairs.wallS
  def annS: Double = lsh.wallS + ivfTrain.wallS + ivf.wallS
}

/** The near-duplicate and ANN operators over a seeded corpus shaped like the
  * sf0.1 `documents` table (30-word vocabulary, 10-100 tokens per document)
  * plus seeded perturbed copies, and a 64-dimensional `embeddings` table:
  * minhashLsh, minhashBandIndex + minhashLshIncremental, withSimhash +
  * simhashPairsOf, lshTopK, and ivfTrain + ivfTopK.
  */
final class NearDupWorkload extends Workload[NearDupIn, NearDupOut] {
  val name = "neardup"

  private val vocab = Vector("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val CopyOffset = 1000000L
  private val Dim = 64
  private val Threshold = 0.9
  private val SimhashDist = 3
  private val K = 3

  private def sizes(tiny: Boolean): (Int, Int) = if (tiny) (150, 150) else (1200, 1200)

  private def inputs(ctx: Ctx, seed: Long, nDocs: Int, nVecs: Int): NearDupIn = {
    val spark = ctx.spark
    val rnd = new java.util.Random(seed)
    val texts = (0 until nDocs).map { i =>
      val len = 10 + rnd.nextInt(91)
      i.toLong -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // perturbed copies: drop 1-3 trailing tokens, or swap one token
    val copies = texts.map { case (id, t) =>
      val toks = t.split(" ")
      val out = if (rnd.nextInt(4) == 0) toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size)))
        else toks.take(math.max(1, toks.length - 1 - rnd.nextInt(3)))
      (id + CopyOffset) -> out.mkString(" ")
    }
    val centres = Array.fill(10, Dim)(rnd.nextGaussian())
    val vectors = (0 until nVecs).map { i =>
      val c = centres(rnd.nextInt(centres.length))
      val v = Array.tabulate(Dim)(d => 0.5 * c(d) + rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      i.toLong -> v.map(x => (x / norm).toFloat)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType, false), StructField("text", StringType, false)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    def write(rows: Seq[Row], schema: StructType, prefix: String): DataFrame = {
      val dir = ctx.freshDir(prefix)
      ctx.op(s"setup.$prefix") {
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema).write.parquet(dir)
      }
      ctx.op("setup.read") { spark.read.parquet(dir) }
    }
    NearDupIn(
      write(texts.map { case (i, t) => Row(i, t) }, docSchema, "documents"),
      write(copies.map { case (i, t) => Row(i, t) }, docSchema, "copies"),
      write(vectors.map { case (i, v) => Row(i, v.toSeq) }, vecSchema, "embeddings"),
      (texts ++ copies).toMap, vectors.toMap)
  }

  def setup(ctx: Ctx, seed: Long): NearDupIn = {
    val (d, v) = sizes(ctx.tiny)
    inputs(ctx, seed, d, v)
  }

  /** The warm-up: one untimed pass and check at the timed size, on another
    * seed's inputs, so the timed pass runs JIT-compiled code.
    */
  def warmup(ctx: Ctx, seed: Long): Unit = {
    val in = setup(ctx, seed + 1)
    check(ctx, in, pass(ctx, in))
  }

  def passWallS(o: NearDupOut): Double = o.pass.wallS

  private def pairs3(rows: Array[Row]): Seq[(Long, Long, Double)] =
    rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSeq

  private def topK(rows: Array[Row]): Seq[(Long, Long, Double, Int)] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSeq

  def pass(ctx: Ctx, in: NearDupIn): NearDupOut = {
    val all = in.docs.unionByName(in.fresh)
    val ((mh, index, inc, members, sp, lsh, ivfTrain, ivf), passSpan) = ctx.spans.timed("pass") {
      val mh = ctx.timed("minhash") {
        ctx.injectException("minhash")
        TextOps.minhashLsh(all, k = 32, bands = 16, threshold = Threshold, maxBucketDocs = 1024).collect()
      }
      val index = ctx.timed("minhash.index") {
        TextOps.minhashBandIndex(in.docs, k = 32, bands = 16).localCheckpoint()
      }
      val inc = ctx.timed("minhash.incremental") {
        TextOps.minhashLshIncremental(in.fresh, index._1, in.docs, k = 32, bands = 16,
          threshold = Threshold, maxBucketDocs = 1024).collect()
      }
      val members = ctx.timed("simhash.sign") {
        TextOps.withSimhash(Par.fanOut(all, col("doc_id"))).localCheckpoint()
      }
      val sp = ctx.timed("simhash.pairs") { TextOps.simhashPairsOf(members._1, SimhashDist).collect() }
      val lsh = ctx.timed("ann.lsh") { VectorOps.lshTopK(in.embeddings, K, nPlanes = 4, nTables = 8).collect() }
      val train = ctx.timed("ann.ivf_train") { VectorOps.ivfTrain(in.embeddings, nlist = 16, iters = 2) }
      val ivf = ctx.timed("ann.ivf") {
        VectorOps.ivfTopK(in.embeddings, K, nprobe = 4, centroids = Some(train._1)).collect()
      }
      (mh, index, inc, members, sp, lsh, train, ivf)
    }
    val hashes = ctx.check("simhash_collect") {
      members._1.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    }
    NearDupOut(passSpan, mh._2, index._2, inc._2, members._2, sp._2, lsh._2, ivfTrain._2, ivf._2,
      pairs3(mh._1), pairs3(inc._1), hashes,
      sp._1.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Int]("hamming"))).toSeq,
      topK(lsh._1), topK(ivf._1))
  }

  // ---- plain-Scala recomputation -----------------------------------------

  private def tokens(t: String): Array[String] = t.split(" ", -1).distinct

  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def jaccard(a: String, b: String): Double = {
    val ta = tokens(a).toSet
    val tb = tokens(b).toSet
    val inter = ta.count(tb.contains)
    round4(inter.toDouble / (ta.size + tb.size - inter))
  }

  private def simhash(t: String): Long = {
    val counts = new Array[Int](64)
    tokens(t).foreach { tok =>
      val h = XxHash64Function.hash(UTF8String.fromString(tok), StringType, 42L)
      for (j <- 0 until 64) counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
    }
    (0 until 64).foldLeft(0L)((acc, j) => if (counts(j) > 0) acc | (1L << j) else acc)
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double =
    BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def checkJaccardPairs(what: String, in: NearDupIn, ps: Seq[(Long, Long, Double)]): Unit = {
    Check(ps.map(p => (p._1, p._2)).distinct.size == ps.size, s"$what: duplicate pairs")
    ps.foreach { case (a, b, j) =>
      Check(a < b, s"$what: pair ($a, $b) not ordered")
      val exact = jaccard(in.texts(a), in.texts(b))
      Check(math.abs(exact - j) < 1e-9, s"$what: pair ($a, $b) jaccard $j, recomputed $exact")
      Check(exact >= Threshold, s"$what: pair ($a, $b) jaccard $exact below $Threshold")
    }
  }

  private def checkTopK(what: String, in: NearDupIn, rows: Seq[(Long, Long, Double, Int)]): Unit = {
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      Check(sorted.map(_._4) == (1 to sorted.size), s"$what: query $q ranks ${sorted.map(_._4)}")
      Check(sorted.size <= K, s"$what: query $q has ${sorted.size} neighbours")
      Check(sorted.map(_._2).distinct.size == sorted.size, s"$what: query $q repeats a neighbour")
      sorted.foreach { case (_, n, c, _) =>
        Check(n != q, s"$what: query $q is its own neighbour")
        val exact = cosine(in.vectors(q), in.vectors(n))
        Check(math.abs(exact - c) < 1e-9, s"$what: ($q, $n) cosine $c, recomputed $exact")
      }
      Check(sorted.sliding(2).forall {
        case Seq(x, y) => x._3 > y._3 || (x._3 == y._3 && x._2 < y._2)
        case _ => true
      }, s"$what: query $q neighbours out of order")
    }
    Check(rows.map(_._1).distinct.size >= in.vectors.size * 9 / 10,
      s"$what: only ${rows.map(_._1).distinct.size} of ${in.vectors.size} queries answered")
  }

  /** Every emitted pair re-verified in plain Scala: Jaccard from the token
    * sets, the simhash from the text and the Hamming distance from the
    * hashes (and the simhash pair set against a brute-force scan), cosine
    * from the vectors. The incremental result must equal the batch result
    * restricted to pairs with a new side.
    */
  def check(ctx: Ctx, in: NearDupIn, out: NearDupOut): String = ctx.check("neardup") {
    val mh = if (ctx.corruptResult && out.minhashPairs.nonEmpty)
      out.minhashPairs.updated(0, out.minhashPairs.head.copy(_3 = out.minhashPairs.head._3 - 0.05))
      else out.minhashPairs
    checkJaccardPairs("minhashLsh", in, mh)
    checkJaccardPairs("minhashLshIncremental", in, out.incrementalPairs)
    Check(out.incrementalPairs.forall(p => p._2 >= CopyOffset),
      "minhashLshIncremental: a pair without a new document")
    val batchNew = mh.filter(p => p._1 >= CopyOffset || p._2 >= CopyOffset).toSet
    Check(out.incrementalPairs.toSet == batchNew,
      s"minhashLshIncremental: ${out.incrementalPairs.size} pairs, batch has ${batchNew.size} new-sided")

    Check(out.simhashes.size == in.texts.size, "withSimhash: row count")
    out.simhashes.foreach { case (id, h) =>
      Check(h == simhash(in.texts(id)), s"withSimhash: doc $id hash differs from recomputation")
    }
    Check(out.simhashPairs.map(p => (p._1, p._2)).distinct.size == out.simhashPairs.size,
      "simhashPairsOf: duplicate pairs")
    out.simhashPairs.foreach { case (a, b, d) =>
      val exact = java.lang.Long.bitCount(out.simhashes(a) ^ out.simhashes(b))
      Check(a < b && d == exact && d <= SimhashDist, s"simhashPairsOf: pair ($a, $b) distance $d, recomputed $exact")
    }
    val byValue = out.simhashes.groupBy(_._2).map { case (v, ds) => v -> ds.keys.toSeq.sorted }
    val values = byValue.keys.toArray.sorted
    var expected = 0L
    for (i <- values.indices; j <- i until values.length
         if java.lang.Long.bitCount(values(i) ^ values(j)) <= SimhashDist) {
      val (a, b) = (byValue(values(i)).size.toLong, byValue(values(j)).size.toLong)
      expected += (if (i == j) a * (a - 1) / 2 else a * b)
    }
    Check(out.simhashPairs.size == expected,
      s"simhashPairsOf: ${out.simhashPairs.size} pairs, brute force finds $expected")

    checkTopK("lshTopK", in, out.lshTopK)
    checkTopK("ivfTopK", in, out.ivfTopK)
    Stats.sha256(Seq(mh, out.incrementalPairs, out.simhashPairs, out.lshTopK, out.ivfTopK)
      .map(_.map(_.toString).sorted.mkString(";")))
  }

  def endToEnd(outs: Seq[NearDupOut]): Map[String, Double] = Map(
    "pass_s" -> Stats.median(outs.map(_.pass.wallS)),
    "throughput_per_s" -> Stats.median(outs.map(o => o.simhashes.size.toDouble / o.pass.wallS)))

  def details(outs: Seq[NearDupOut]): Map[String, Any] = Map(
    "workload" -> name,
    "documents" -> outs.head.simhashes.size,
    "minhash_s" -> Stats.median(outs.map(_.minhash.wallS)),
    "minhash_incremental_s" -> Stats.median(outs.map(_.incremental.wallS)),
    "simhash_s" -> Stats.median(outs.map(_.simhashS)),
    "ann_topk_s" -> Stats.median(outs.map(_.annS)),
    "minhash_pairs" -> outs.head.minhashPairs.size,
    "simhash_pairs" -> outs.head.simhashPairs.size)

  def layers(ctx: Ctx, in: NearDupIn, traced: Seq[NearDupOut], listener: LayerListener): Map[String, Double] = {
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
    def work(s: Span) = listener.work((s +: ctx.spans.descendants(s)).map(ctx.spans.group).toSet)
    def med(f: NearDupOut => Double) = Stats.median(traced.map(f))
    Map(
      "minhash.index_s" -> med(_.index.wallS),
      "minhash.pairs" -> med(_.minhashPairs.size.toDouble),
      "minhash.shuffle_bytes" -> med(o => work(o.minhash).shuffleWriteBytes.toDouble),
      "minhash.spill_bytes" -> med(o => work(o.minhash).spillBytes.toDouble),
      "minhash.task_skew" -> med(o => work(o.minhash).longestStageSkew),
      "simhash.sign_s" -> med(_.sign.wallS),
      "simhash.pairs_s" -> med(_.simPairs.wallS),
      "simhash.shuffle_bytes" -> med(o => (work(o.sign).shuffleWriteBytes + work(o.simPairs).shuffleWriteBytes).toDouble),
      "ann.lsh_s" -> med(_.lsh.wallS),
      "ann.ivf_train_s" -> med(_.ivfTrain.wallS),
      "ann.ivf_s" -> med(_.ivf.wallS),
      "ann.single_task_stages" -> med(o => Seq(o.lsh, o.ivfTrain, o.ivf).map(work(_).singleTaskStages).sum.toDouble))
  }
}
