package perfbench

import scala.collection.mutable
import graft.kernel.SearchKernels.SearchParams
import graft.spark.{ExtractJob, Schemas, SearchJob, SnapshotLog}

/** `search_mix`: a closed loop, one client, over a table extracted during
  * set-up. Each query plans a fresh snapshot scan and counts
  * `SearchJob.matches`. Read-only: scan planning, the column-pruned scan and
  * the search kernels do all the work. Queries come in blocks of seven, one
  * per class in seeded order, so every run sends the same class mix: VIN
  * queries (two of seven) set the tail, the other fields set the median.
  */
object SearchMix extends Workload {
  val Docs = 200
  val PerField = 24
  def copies(i: Int): Int = 1 + i % 5

  val Classes: Vector[String] = Vector("vin_exact", "vin_ocr", "contract", "claim", "dealer", "word", "nohit")

  final case class Query(cls: String, field: String, params: SearchParams, expect: Long)

  final case class State(pagesDir: String, table: String, pages: Seq[Gen.GenPage], pools: Gen.Pools,
      snapshots: Int) {
    var queries = 0
  }

  def corpus(seed: Long): (Seq[Gen.GenPage], Gen.Pools) = {
    val kinds = Gen.kindPlan(Docs, Gen.rng(seed, 31))
    val sizes = Gen.sizePlan(Docs, Gen.rng(seed, 32))
    val pools = Gen.pools(PerField, Gen.rng(seed, 34))
    val slots = kinds.indices.filter(i => Gen.carriesTokens(kinds(i)))
    val tokens = slots.zip(Gen.plant(pools, slots.size, copies, Gen.rng(seed, 35))).toMap
    val r = Gen.rng(seed, 33)
    val pages = (0 until Docs).map { i =>
      val body = Gen.sourceText(i.toLong, sizes(i), r)
      val text = tokens.get(i).filterNot(_.isEmpty).fold(body)(t => body + " " + t.render)
      Gen.page(seed, i, kinds(i), i, text)
    }
    (pages, pools)
  }

  /** Block `g` of the query sequence: one query per class, seeded order.
    * The no-hit query cycles through the non-VIN fields block by block.
    */
  def block(seed: Long, g: Int, p: Gen.Pools): Vector[Query] = {
    val r = Gen.rng(seed, 1000003L * (g + 2))
    def pick(n: Int) = r.nextInt(n)
    Gen.shuffle(Classes, r).map {
      case c @ "vin_exact" => val i = pick(PerField); Query(c, "vin", SearchParams(vin = Some(p.vins(i))), copies(i))
      case c @ "vin_ocr" =>
        val i = pick(PerField); Query(c, "vin", SearchParams(vin = Some(Gen.ocrConfused(p.vins(i), r))), copies(i))
      case c @ "contract" =>
        val i = pick(PerField); Query(c, c, SearchParams(contract = Some(p.contracts(i).toString)), copies(i))
      case c @ "claim" => val i = pick(PerField); Query(c, c, SearchParams(claim = Some(p.claims(i).toString)), copies(i))
      case c @ "dealer" => val i = pick(PerField); Query(c, c, SearchParams(dealer = Some(p.dealers(i))), copies(i))
      case c @ "word" => val i = pick(PerField); Query(c, c, SearchParams(any = Some(p.words(i))), copies(i))
      case c =>
        val i = pick(PerField)
        val params = math.floorMod(g, 4) match {
          case 0 => SearchParams(contract = Some(p.absentContracts(i).toString))
          case 1 => SearchParams(claim = Some(p.absentClaims(i).toString))
          case 2 => SearchParams(dealer = Some(p.absentDealers(i)))
          case _ => SearchParams(any = Some(p.absentWords(i)))
        }
        Query(c, c, params, 0L)
    }
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val (pages, pools) = corpus(ctx.opts.seed)
    ctx.sameBytes(rep, Gen.digest(pages.map(_.page)))
    val pagesDir = ctx.dir("pages")
    Io.writePages(ctx.spark, pages.map(_.page), pagesDir, 2 * ctx.cores)
    val table = ctx.dir(s"table-$rep")
    Io.delete(new java.io.File(table))
    ctx.tracer.span("ExtractJob.run")(
      ExtractJob.run(ctx.spark, Io.readPages(ctx.spark, pagesDir), table, ctx.buckets))
    val log = new SnapshotLog(table)
    ctx.check(s"setup $rep: searched table holds one row per page")(
      log.scan(ctx.spark, Schemas.extractedSchema).count() == Docs)
    State(pagesDir, table, pages, pools, log.snapshots().size)
  }

  private def query(ctx: Ctx, s: State, q: Query): Timed[Long] = {
    val t = ctx.tracer
    ctx.measured(q.field) {
      val df = t.span("SnapshotLog.scan")(new SnapshotLog(s.table).scan(ctx.spark, Schemas.extractedSchema))
      t.span("SearchJob.matches", "field" -> q.field)(SearchJob.matches(df, q.params).count())
    }
  }

  val warmUnits = 1
  def warm(ctx: Ctx, s: State, i: Int): Unit = block(ctx.opts.seed, -1 - i, s.pools).foreach(query(ctx, s, _))

  def unit(ctx: Ctx, s: State, group: Int, out: mutable.ArrayBuffer[Sample]): Unit =
    block(ctx.opts.seed, group, s.pools).foreach { q =>
      val n = query(ctx, s, q)
      out += n.sample(q.cls, group, Docs)
      s.queries += 1
      ctx.check(s"query ${q.cls} ${q.params}: ${n.value} matches, planted ${q.expect}")(n.value == q.expect)
    }

  val mainKinds: Set[String] = Classes.toSet
  val auxKinds = Set("vin_exact", "vin_ocr")

  def layers(ctx: Ctx, s: State): Seq[Metric] = {
    Io.floors(ctx, Seq(s.pagesDir))
    val log = new SnapshotLog(s.table)
    Layers.report(ctx.tracer,
      Layers.kernels(Io.kindSample(s.pages, 32, ctx.opts.seed), Layers.KernelQueries.of(s.pools)),
      Layers.Extras(commitsPerOp = (log.snapshots().size - s.snapshots).toDouble / s.queries,
        liveFiles = log.currentFiles().size, appendedRatio = 0))
  }
}
