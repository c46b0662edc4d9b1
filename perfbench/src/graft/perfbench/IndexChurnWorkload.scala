package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import graft.ml.{AnnSearch, IvfIndex}
import graft.util.TableIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Writes beside reads on the persisted IVF index. Set-up builds a
  * generation-1 `IvfIndex` (float-bearing, published as generation
  * `g0` under a root) from seeded clustered embeddings. One op is one
  * cycle: `appendInPlace` of a fresh batch, `deleteInPlace` of live
  * ids, `search` (k = 10) for a query batch, `nearDupsExact` (τ = 0.8)
  * for a shard holding perturbed copies of live vectors, then
  * `compactPublish` plus retirement of the superseded generation. The
  * reads therefore run over the cycle's appended files and tombstones,
  * and every op pays one compaction, so its cost is part of
  * `op_p50_s`. Checks: no deleted id is ever returned,
  * search ranks are well formed, every near-dup sim is ≥ τ and every
  * planted copy finds its source; at the end `IvfIndex.fsckIndex`
  * reports nothing and the index holds exactly the live ids. */
final class IndexChurnWorkload extends Workload {
  import IndexChurnWorkload._

  val itemName = "vectors appended + queried"
  private var root: String = _
  private var vecs: mutable.Map[Long, Array[Float]] = _
  private var live: mutable.ArrayBuffer[Long] = _
  private var deleted: mutable.Set[Long] = _
  private var nextId = 0L
  private var centers: Array[Array[Double]] = _
  private val appendFiles = mutable.ArrayBuffer.empty[(Long, Long)]
  private val compactBytes = mutable.ArrayBuffer.empty[Long]
  private val bytesPerVec = mutable.ArrayBuffer.empty[Double]
  private val indexFiles = mutable.ArrayBuffer.empty[Long]

  def setup(ctx: Ctx, dir: Path): Seq[String] = {
    val spark = ctx.spark
    val rng = new SplittableRandom(ctx.seed)
    centers = Array.fill(Clusters)(unit(Array.fill(Dim)(rng.nextGaussian())))
    vecs = mutable.Map.empty
    live = mutable.ArrayBuffer.empty
    deleted = mutable.Set.empty
    nextId = 0L
    val base = fresh(rng, BaseVectors)
    val corpusPath = dir.resolve("corpus.parquet").toString
    frame(ctx, base).write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    root = dir.resolve("index").toString
    ctx.trace.span("ml.IvfIndex.build") {
      val centroids = AnnSearch.strideCentroids(corpus, stride = BaseVectors / Cells)
      val book = AnnSearch.pqBook(corpus, m = 8, stride = 10)
      IvfIndex.build(corpus, centroids, book, s"$root/g0", storeFloats = true)
      TableIndex.publishGeneration(spark, root, "g0")
    }
    live ++= base.map(_._1)
    // the warm op: one cycle
    cycle(ctx, -1, plan(ctx, -1))()
  }.problems

  def prepare(ctx: Ctx, op: Int): () => Done = cycle(ctx, op, plan(ctx, op))

  private def plan(ctx: Ctx, op: Int): Plan = {
    val rng = new SplittableRandom(ctx.seed * 7919L + op + 1)
    val append = fresh(rng, AppendBatch)
    val queries = fresh(rng, Queries, register = false)
    val drop = mutable.LinkedHashSet.empty[Long]
    while (drop.size < DeleteBatch) drop += live(rng.nextInt(live.size))
    val copies = (0 until ShardCopies).map { _ =>
      var src = live(rng.nextInt(live.size))
      while (drop(src)) src = live(rng.nextInt(live.size))
      val id = nextId; nextId += 1
      (id, perturb(rng, vecs(src), 0.02)) -> src
    }
    val shard = copies.map(_._1) ++ fresh(rng, ShardFresh, register = false)
    Plan(append, queries, shard, copies.map { case ((id, _), src) => id -> src }.toMap, drop.toSeq)
  }

  private def cycle(ctx: Ctx, op: Int, p: Plan): () => Done = () => {
    val spark = ctx.spark
    val t = ctx.trace
    val before = if (ctx.traced) dirStats(root) else (0L, 0L)
    t.span("ml.IvfIndex.appendInPlace")(IvfIndex.appendInPlace(spark, root, frame(ctx, p.append)))
    if (ctx.traced) {
      val after = dirStats(root)
      appendFiles += ((after._1 - before._1, after._2 - before._2))
    }
    live ++= p.append.map(_._1)
    t.span("ml.IvfIndex.deleteInPlace")(
      IvfIndex.deleteInPlace(spark, root, spark.createDataFrame(p.drop.map(Row(_)).asJava, IdSchema)))
    deleted ++= p.drop
    live --= p.drop.toSet
    if (ctx.traced) indexFiles += dirStats(TableIndex.resolveDir(spark, root))._1
    val hits = t.span("ml.IvfIndex.search")(
      IvfIndex.search(spark, root, frame(ctx, p.queries), k = 10, nprobe = Probes, shortlist = 40).collect())
    val dups = t.span("ml.IvfIndex.nearDupsExact")(
      IvfIndex.nearDupsExact(spark, root, frame(ctx, p.shard), tau = Tau).collect())
    val old = Paths.get(TableIndex.resolveDir(spark, root)).getFileName.toString
    val gen = t.span("ml.IvfIndex.compactPublish")(IvfIndex.compactPublish(spark, root))
    t.span("util.TableIndex.retireGeneration")(TableIndex.retireGeneration(spark, root, old))
    if (ctx.traced) {
      val bytes = dirStats(gen)._2
      compactBytes += bytes
      bytesPerVec += bytes.toDouble / live.size
    }
    val returned = hits.map(_.getAs[Long]("n_id")) ++ dups.map(_.getAs[Long]("n_id"))
    val leaked = returned.filter(deleted) ++ (if (ctx.plantWrong(op)) p.drop.take(1) else Nil)
    val found = dups.map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toSet
    val missed = p.sources.filterNot { case (q, src) => found((q, src)) }
    val perQuery = hits.groupBy(_.getAs[Long]("q_id"))
    val badRanks = perQuery.values.count { rs =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      byRank.map(_.getAs[Long]("rank")).toSeq != (1L to byRank.length.toLong) ||
        byRank.length > 10 || byRank.map(_.getAs[Double]("sim")).sliding(2).exists(w => w.size == 2 && w(0) < w(1))
    }
    Done(p.append.size + p.queries.size + p.shard.size, Seq(
      leaked.isEmpty -> s"deleted ids returned: ${leaked.distinct.take(5).mkString(",")}",
      dups.forall(_.getAs[Double]("sim") >= Tau) -> s"near-dup below tau ${dups.map(_.getAs[Double]("sim")).min}",
      missed.isEmpty -> s"${missed.size} planted copies did not find their source",
      (perQuery.size == p.queries.size) -> s"${perQuery.size} of ${p.queries.size} queries answered",
      (badRanks == 0) -> s"$badRanks queries with malformed rankings"
    ).collect { case (false, m) => m })
  }

  override def finish(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    val findings = IvfIndex.fsckIndex(spark, root)
    val ids = IvfIndex.loadEncoded(spark, TableIndex.resolveDir(spark, root))
      .select("n_id").collect().map(_.getLong(0))
    findings.map(f => s"fsck ${f.kind}: ${f.detail}") ++
      (if (ids.length == live.size && ids.toSet == live.toSet) Nil
       else Seq(s"index holds ${ids.length} ids, ${live.size} live expected"))
  }

  override def gaugeNames: Seq[String] = Seq(
    "ml.IvfIndex.appendInPlace.files_written", "ml.IvfIndex.appendInPlace.bytes_written",
    "ml.IvfIndex.search.files_scanned", "ml.IvfIndex.compactPublish.bytes_written",
    "util.TableIndex.files", "ml.IvfIndex.bytes_per_vec", "ml.IvfIndex.search.recall_at_10")

  override def gauges(ctx: Ctx, window: Map[String, SpanStats]): Map[String, Double] = {
    def mean[N](xs: Seq[N])(implicit n: Numeric[N]) = if (xs.isEmpty) 0.0 else n.toDouble(xs.sum) / xs.size
    val search = window.get("ml.IvfIndex.search")
    Map(
      "ml.IvfIndex.appendInPlace.files_written" -> mean(appendFiles.map(_._1).toSeq),
      "ml.IvfIndex.appendInPlace.bytes_written" -> mean(appendFiles.map(_._2).toSeq),
      "ml.IvfIndex.search.files_scanned" ->
        search.map(s => s.work.plan("FileSourceScanExec.numFiles").toDouble / s.calls).getOrElse(0.0),
      "ml.IvfIndex.compactPublish.bytes_written" -> mean(compactBytes.toSeq),
      "util.TableIndex.files" -> mean(indexFiles.toSeq),
      "ml.IvfIndex.bytes_per_vec" -> mean(bytesPerVec.toSeq),
      "ml.IvfIndex.search.recall_at_10" -> recall(ctx))
  }

  /** Recall@10 of the index search against exact brute force over the live corpus. */
  private def recall(ctx: Ctx): Double = {
    val rng = new SplittableRandom(ctx.seed * 31L + 17L)
    val queries = frame(ctx, fresh(rng, Queries, register = false))
    val corpus = frame(ctx, live.toSeq.map(id => id -> vecs(id)))
    def pairs(df: DataFrame) = df.select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(AnnSearch.bfTopK(queries, corpus, 10))
    val got = pairs(IvfIndex.search(ctx.spark, root, queries, k = 10, nprobe = Probes, shortlist = 40))
    (got & exact).size.toDouble / exact.size
  }

  private def fresh(rng: SplittableRandom, n: Int, register: Boolean = true): Seq[(Long, Array[Float])] =
    (0 until n).map { _ =>
      val c = centers(rng.nextInt(Clusters))
      val id = nextId; nextId += 1
      val v = perturb(rng, c.map(_.toFloat), Spread)
      if (register) vecs(id) = v
      id -> v
    }

  private def frame(ctx: Ctx, rows: Seq[(Long, Array[Float])]): DataFrame =
    ctx.spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, VecSchema)
}

object IndexChurnWorkload {
  /** The inputs of one cycle, drawn before it is timed. */
  final case class Plan(append: Seq[(Long, Array[Float])], queries: Seq[(Long, Array[Float])],
                        shard: Seq[(Long, Array[Float])], sources: Map[Long, Long], drop: Seq[Long])

  val Dim = 64
  val Clusters = 24
  val Spread = 0.9
  val Cells = 8
  val Probes = 3
  val BaseVectors = 2000
  val AppendBatch = 200
  val Queries = 20
  val ShardCopies = 10
  val ShardFresh = 10
  val DeleteBatch = 100
  val Tau = 0.8

  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("vec", ArrayType(FloatType, containsNull = false))))
  val IdSchema: StructType = StructType(Seq(StructField("id", LongType, nullable = false)))

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** `v` plus isotropic Gaussian noise of total norm ≈ `scale`, renormalized. */
  def perturb(rng: SplittableRandom, v: Array[Float], scale: Double): Array[Float] =
    unit(v.map(x => x + rng.nextGaussian() * scale / math.sqrt(Dim))).map(_.toFloat)

  /** (data files, bytes) under a directory, recursively. */
  def dirStats(dir: String): (Long, Long) = {
    val s = Files.walk(Paths.get(dir))
    try {
      val files = s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    } finally s.close()
  }
}
