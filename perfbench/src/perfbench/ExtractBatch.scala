package perfbench

import scala.collection.mutable
import graft.spark.{ExtractJob, Schemas, SnapshotLog}

/** `extract_batch`: a cold `ExtractJob.run` over the corpus into an empty
  * table, then a rerun over the same pages where every url is already done.
  * The kernel, scan, bucket exchange, staged write and commit do the work of
  * the cold run; the rerun isolates the resume join. No dedup, no search.
  */
object ExtractBatch extends Workload {
  val Docs = 1000

  final case class State(pagesDir: String, pages: Seq[Gen.GenPage], sample: Seq[Gen.GenPage]) {
    var liveFiles = 0
    var commits = 0
    var calls = 0
  }

  def corpus(seed: Long): Seq[Gen.GenPage] = {
    val kinds = Gen.kindPlan(Docs, Gen.rng(seed, 1))
    val sizes = Gen.sizePlan(Docs, Gen.rng(seed, 2))
    val r = Gen.rng(seed, 3)
    (0 until Docs).map(i => Gen.page(seed, i, kinds(i), i, Gen.sourceText(i, sizes(i), r)))
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val pages = corpus(ctx.opts.seed)
    ctx.sameBytes(rep, Gen.digest(pages.map(_.page)))
    val dir = ctx.dir("pages")
    Io.writePages(ctx.spark, pages.map(_.page), dir, 2 * ctx.cores)
    State(dir, pages, Io.kindSample(pages, 8, ctx.opts.seed))
  }

  private def cycle(ctx: Ctx, s: State, table: String,
      out: Option[(Int, mutable.ArrayBuffer[Sample])]): Unit = {
    val t = ctx.tracer
    val log = new SnapshotLog(table)
    val pages = Io.readPages(ctx.spark, s.pagesDir)
    val cold = ctx.measured("cold")(t.span("ExtractJob.run")(
      ExtractJob.run(ctx.spark, pages, table, ctx.buckets)))
    val before = log.currentSnapshot()
    val noop = ctx.measured("noop")(t.span("ExtractJob.run_noop")(
      ExtractJob.run(ctx.spark, pages, table, ctx.buckets)))
    val (first, second) = (cold.value, noop.value)
    out.foreach { case (g, buf) =>
      buf += cold.sample("cold", g, Docs)
      buf += noop.sample("noop", g, 0)
      ctx.check(s"cold run $g: commits, one row per page, kernel-identical text") {
        val df = t.span("SnapshotLog.scan")(log.scan(ctx.spark, Schemas.extractedSchema))
        first.isDefined && df.count() == Docs && Io.matchesOracle(ctx.spark, table, s.sample)
      }
      ctx.check(s"rerun $g: no-op, snapshot unchanged")(
        second.isEmpty && log.currentSnapshot() == before)
      s.liveFiles = log.currentFiles().size
      s.commits += Seq(first, second).count(_.isDefined)
      s.calls += 2
    }
    Io.delete(new java.io.File(table))
  }

  val warmUnits = 3
  def warm(ctx: Ctx, s: State, i: Int): Unit = cycle(ctx, s, ctx.dir(s"warm-$i"), None)

  def unit(ctx: Ctx, s: State, group: Int, out: mutable.ArrayBuffer[Sample]): Unit =
    cycle(ctx, s, ctx.dir(s"table-$group"), Some((group, out)))

  val mainKinds = Set("cold")
  val auxKinds = Set("noop")

  def layers(ctx: Ctx, s: State): Seq[Metric] = {
    Io.floors(ctx, Seq(s.pagesDir))
    val q = Layers.KernelQueries.of(Gen.pools(1, Gen.rng(ctx.opts.seed, 9)))
    Layers.report(ctx.tracer, Layers.kernels(Io.kindSample(s.pages, 32, ctx.opts.seed), q),
      Layers.Extras(commitsPerOp = s.commits.toDouble / s.calls, liveFiles = s.liveFiles, appendedRatio = 0))
  }
}
