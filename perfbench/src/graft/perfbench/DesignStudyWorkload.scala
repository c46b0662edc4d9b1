package graft.perfbench

import java.nio.file.Path

import graft.domain.EtlConfig
import graft.io.LayoutYaml
import graft.ops.{Bandwidth, BvSearch, GreedyGrouping, SmReconstruct}
import graft.pipelines.Layouts
import graft.util.Pin
import org.apache.spark.sql.functions._

/** The detector design study on the vendored layout database. One op
  * is [[StudiesPerOp]] studies, each `Layouts.faceCenters` (disk 1
  * back) → `SmReconstruct.reconstruct` → `moduleStats` →
  * `BvSearch.study` for one of the 8 `EtlConfig.bvConfigs`, drawn from
  * the seed → `Bandwidth.rollup` → `GreedyGrouping.fromModuleStats`.
  * Tiny data and many small jobs: driver-, planning- and
  * scheduling-bound. Every study is checked against the reference
  * goldens (BV leads/channels, the four bandwidth figures, the greedy
  * group sizes and currents).
  *
  * Why several studies per op: with one ~2.5 s study per op, a 5 s
  * window held two ops or three depending on host speed, and the
  * first op after set-up is the slowest, so the window's median
  * jumped with the op count. An op longer than the window is always
  * alone in it. */
final class DesignStudyWorkload extends Workload {
  val itemName = "studies"
  val StudiesPerOp = 3

  private lazy val bvGolden = Json.read(java.nio.file.Paths.get(Layouts.resolveFixture("occupancy_bv_golden.json")))
  private lazy val greedyGolden = Json.read(java.nio.file.Paths.get(Layouts.resolveFixture("greedy_golden.json")))

  def setup(ctx: Ctx, dir: Path): Seq[String] = {
    ctx.trace.span("io.LayoutYaml.read")(LayoutYaml.read(ctx.spark, Layouts.defaultYaml))
    study(ctx, configOf(ctx, -1), wrong = false)
  }

  def prepare(ctx: Ctx, op: Int): () => Done = {
    val cfgs = (0 until StudiesPerOp).map(j => configOf(ctx, op * StudiesPerOp + j))
    () => Done(StudiesPerOp.toLong, cfgs.zipWithIndex.flatMap { case (cfg, j) =>
      study(ctx, cfg, ctx.plantWrong(op) && j == 0)
    })
  }

  /** The seeded choice of BV configuration for study `i`. */
  private def configOf(ctx: Ctx, i: Int): (String, String) =
    EtlConfig.bvConfigs(new java.util.SplittableRandom(ctx.seed * 1000003L + i).nextInt(EtlConfig.bvConfigs.size))

  private def study(ctx: Ctx, cfg: (String, String), wrong: Boolean): Seq[String] = {
    val spark = ctx.spark
    val t = ctx.trace
    val centers = t.span("pipelines.Layouts.faceCenters")(Layouts.faceCenters(spark, "disk1", "back"))
    val sensors = t.span("ops.SmReconstruct.reconstruct")(Pin(SmReconstruct.reconstruct(spark, centers)))
    val mods = t.span("ops.SmReconstruct.moduleStats")(
      Pin(SmReconstruct.moduleStats(sensors).withColumn("mod_i", col("mod_i").cast("int"))))
    val (leads0, channels) = t.span("ops.BvSearch.study")(BvSearch.study(spark, mods, cfg._2))
    val bw = t.span("ops.Bandwidth.rollup")(
      Bandwidth.rollup(spark, Bandwidth.perEtrocOccupancy(sensors)).collect().head)
    val groups = t.span("ops.GreedyGrouping.fromModuleStats")(
      GreedyGrouping.groupSummary(GreedyGrouping.fromModuleStats(spark, mods))
        .orderBy("vendor", "group").collect())
    val leads = if (wrong) leads0 + 1 else leads0
    val bv = bvGolden.get("bv").get(cfg._1)
    val bwGolden = Seq("tdr", "mini", "mini_nocal", "nohdr_nocal").map(k => bvGolden.get("bandwidth").get(k).asDouble)
    def vendor(v: String, field: String) = groups.filter(_.getString(0) == v).map(r => r.get(r.fieldIndex(field)))
    Seq("hpk", "fbk").flatMap { v =>
      val sizes = vendor(v, "n_mods").map(_.asInstanceOf[Long]).toSeq
      val currents = vendor(v, "group_current").map(_.asInstanceOf[Double]).toSeq
      val wantSizes = Json.elements(greedyGolden.get(v).get("sizes")).map(_.asLong)
      val wantCurrents = Json.elements(greedyGolden.get(v).get("currents")).map(_.asDouble)
      Seq(
        (sizes == wantSizes) -> s"$v group sizes $sizes, golden $wantSizes",
        (currents.size == wantCurrents.size && currents.zip(wantCurrents).forall { case (a, b) => math.abs(a - b) < 1e-6 }) ->
          s"$v group currents differ from the golden")
    }.collect { case (false, m) => m } ++
      Seq(
        (leads == bv.get("leads").asLong) -> s"${cfg._1} leads $leads, golden ${bv.get("leads").asLong}",
        (channels == bv.get("channels").asLong) -> s"${cfg._1} channels $channels, golden ${bv.get("channels").asLong}"
      ).collect { case (false, m) => m } ++
      bwGolden.zipWithIndex.collect {
        case (want, i) if !Workload.close(bw.getDouble(i), want, 1e-9) => s"bandwidth ${bw.schema(i).name} ${bw.getDouble(i)}, golden $want"
      }
  }

  override def gaugeNames: Seq[String] = Seq("design.driver_share")

  override def gauges(ctx: Ctx, window: Map[String, SpanStats]): Map[String, Double] =
    window.get("op").map(s => "design.driver_share" -> s.driverS / s.totalS).toMap
}
