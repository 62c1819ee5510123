package perfbench

import graft.kernel.{Extract, SearchKernels}

/** The per-layer report. Every workload prints the same metric list; a
  * layer the workload never calls reads 0 (for example `SearchJob.*` on
  * `extract_batch`), which is itself the prediction that a change to that
  * layer cannot move the workload.
  */
object Layers {

  val SearchFields: Seq[String] = Seq("vin", "contract", "claim", "dealer", "word", "nohit")
  val TurnKinds: Seq[String] = Seq("write", "dup")
  val SiteFiles: Seq[String] = Seq("ExtractJob", "Pipelines", "SnapshotLog")

  /** Values a workload supplies itself (counts it reads off the tables). */
  final case class Extras(commitsPerOp: Double, liveFiles: Double, appendedRatio: Double)

  def report(t: Tracer, kernels: Seq[Metric], x: Extras): Seq[Metric] = {
    def med(spans: Seq[Span])(f: SpanStats => Double): Double =
      Stats.medianOr0(spans.map(s => f(t.stats(s))))

    val run = t.named("ExtractJob.run")
    val noop = t.named("ExtractJob.run_noop")
    val turns = t.named("Pipelines.incrementalDedup")
    val extract = Seq(
      Metric("pages.scan.wall_s", med(t.named("pages.scan"))(_.wallS), "s"),
      Metric("ExtractJob.extractDF.wall_s", med(t.named("ExtractJob.extractDF"))(_.wallS), "s"),
      Metric("ExtractJob.run.wall_s", med(run)(_.wallS), "s"),
      Metric("ExtractJob.run.jobs", med(run)(_.jobs), "count"),
      Metric("ExtractJob.run.task_cpu_s", med(run)(_.cpuS), "s"),
      Metric("ExtractJob.run.shuffle_write_mb", med(run)(_.shuffleWriteMb), "MB"),
      Metric("ExtractJob.run.spill_mb", med(run)(_.spillMb), "MB"),
      Metric("ExtractJob.run.driver_gap_s", med(run)(_.driverGapS), "s"),
      Metric("ExtractJob.run.task_skew", med(run)(_.taskSkew), "ratio"),
      Metric("ExtractJob.run_noop.wall_s", med(noop)(_.wallS), "s"),
      Metric("ExtractJob.run_noop.jobs", med(noop)(_.jobs), "count"),
      Metric("ExtractJob.run_noop.input_mb", med(noop)(_.inputMb), "MB"))
    val snapshot = Seq(
      Metric("SnapshotLog.commits_per_op", x.commitsPerOp, "count"),
      Metric("SnapshotLog.live_files", x.liveFiles, "count"),
      Metric("SnapshotLog.scan.plan_s", med(t.named("SnapshotLog.scan"))(_.wallS), "s"))
    val pipeline = TurnKinds.flatMap { k =>
      val ss = turns.filter(_.attrs.get("kind").contains(k))
      val p = s"Pipelines.incrementalDedup.$k"
      Seq(
        Metric(s"$p.wall_s", med(ss)(_.wallS), "s"),
        Metric(s"$p.jobs", med(ss)(_.jobs), "count"),
        Metric(s"$p.task_cpu_s", med(ss)(_.cpuS), "s"),
        Metric(s"$p.shuffle_write_mb", med(ss)(_.shuffleWriteMb), "MB"),
        Metric(s"$p.spill_mb", med(ss)(_.spillMb), "MB"),
        Metric(s"$p.driver_gap_s", med(ss)(_.driverGapS), "s"))
    } ++ {
      val replay = turns.filter(_.attrs.get("kind").contains("replay"))
      Seq(
        Metric("Pipelines.incrementalDedup.replay.wall_s", med(replay)(_.wallS), "s"),
        Metric("Pipelines.incrementalDedup.replay.jobs", med(replay)(_.jobs), "count"))
    } ++ (SiteFiles :+ "other").flatMap { f =>
      // per turn, by the engine file whose code launched the job
      val accs = turns.flatMap { s =>
        val all = t.meter.sites(s.id)
        if (f == "other") all.filterNot { case (file, _) => SiteFiles.contains(file) }.values
        else all.get(f).toSeq
      }
      val n = math.max(turns.size, 1).toDouble
      Seq(
        Metric(s"Pipelines.incrementalDedup.site.$f.jobs", accs.map(_.jobs).sum / n, "count"),
        Metric(s"Pipelines.incrementalDedup.site.$f.task_cpu_s", accs.map(_.cpuNs).sum / 1e9 / n, "s"))
    } :+ Metric("Pipelines.appended_ratio", x.appendedRatio, "ratio")
    val search = SearchFields.flatMap { f =>
      val ss = t.named("SearchJob.matches", "field" -> f)
      Seq(
        Metric(s"SearchJob.matches.$f.wall_s", med(ss)(_.wallS), "s"),
        Metric(s"SearchJob.matches.$f.task_cpu_s", med(ss)(_.cpuS), "s"),
        Metric(s"SearchJob.matches.$f.input_mb", med(ss)(_.inputMb), "MB"))
    }
    kernels ++ extract ++ snapshot ++ pipeline ++ search
  }

  private val KernelBudgetS = 0.25

  /** Single-threaded kernel timings over a sample of the workload's own
    * pages. Each kernel is warmed once, then repeated until it has run for
    * `KernelBudgetS` seconds.
    */
  def kernels(pages: Seq[Gen.GenPage], q: KernelQueries): Seq[Metric] = {
    // each pass returns a count that is kept, so the JIT cannot drop the work
    def usPerItem(items: Int)(pass: => Int): Double = {
      sink += pass // warm
      var passes = 0
      val t0 = System.nanoTime()
      while (passes == 0 || System.nanoTime() - t0 < KernelBudgetS * 1e9) { sink += pass; passes += 1 }
      (System.nanoTime() - t0) / 1e3 / (passes.toLong * items)
    }
    def ofKind(ks: Gen.Kind*) = pages.filter(p => ks.contains(p.kind)).map(_.page)
    def extractAll(ps: Seq[graft.spark.Schemas.Page]): Int =
      ps.map(p => Extract.extract(p.html, p.text).pages.size).sum
    val html = ofKind(Gen.Html)
    val pdf = ofKind(Gen.PdfDigital)
    val ocr = ofKind(Gen.Raster, Gen.PdfScanned)
    val htmlUs = usPerItem(html.size)(extractAll(html))
    val htmlBytes = html.map(_.html.length.toLong).sum
    val texts = ofKind(Gen.Html, Gen.Text).map(p => Extract.extract(p.html, p.text).text)
    Seq(
      Metric("kernel.html.us_per_doc", htmlUs, "us"),
      Metric("kernel.html.mb_per_s", htmlBytes / (htmlUs * html.size), "MB/s"),
      Metric("kernel.pdf_digital.us_per_doc", usPerItem(pdf.size)(extractAll(pdf)), "us"),
      Metric("kernel.ocr.us_per_doc", usPerItem(ocr.size)(extractAll(ocr)), "us"),
      Metric("kernel.search.vin.us_per_doc",
        usPerItem(texts.size)(texts.count(SearchKernels.vinHit(_, q.vin))), "us"),
      Metric("kernel.search.number.us_per_doc",
        usPerItem(texts.size)(texts.count(SearchKernels.keywordNumberHit(_, "Contract", q.contract))), "us"),
      Metric("kernel.search.dealer.us_per_doc",
        usPerItem(texts.size)(texts.count(SearchKernels.dealerHit(_, q.dealer))), "us"),
      Metric("kernel.search.word.us_per_doc",
        usPerItem(texts.size)(texts.count(_.contains(q.word))), "us"))
  }

  @volatile var sink = 0L

  final case class KernelQueries(vin: String, contract: String, dealer: String, word: String)

  object KernelQueries {
    def of(p: Gen.Pools): KernelQueries =
      KernelQueries(p.vins.head, p.contracts.head.toString, p.dealers.head, p.words.head)
  }
}
