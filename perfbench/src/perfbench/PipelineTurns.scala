package perfbench

import scala.collection.mutable
import graft.spark.{Pipelines, Schemas, SnapshotLog}

/** `pipeline_turns`: a fresh pair of tables fed a seeded sequence of small
  * page batches through `Pipelines.incrementalDedup`. Batches are small, so
  * per-turn fixed costs dominate: the resume join against a growing done
  * set, manifest planning, two commits per turn and the dedup probe against
  * a growing deduped table. One episode is the fixed turn pattern below over
  * fresh tables; a run repeats episodes until its time is up.
  */
object PipelineTurns extends Workload {
  val Batch = 80
  /** write: mostly new texts, some repeated in the batch, some seen in
    * earlier turns, some replayed urls. dup: new urls whose texts were all
    * seen earlier. replay: urls that were all extracted earlier.
    */
  val Pattern: Vector[String] = Vector("write", "write", "dup", "replay", "dup")
  val InBatchRepeats = 4
  val SeenTexts = 12
  val Replays = 8

  final case class Turn(kind: String, pages: Vector[Gen.GenPage], newUrls: Int,
      expectAppended: Long)

  final case class State(dir: String, turns: Vector[Turn], sample: Seq[Gen.GenPage]) {
    var liveFiles = 0
    var commits = 0
    var calls = 0
    var appended = 0L
    var fresh = 0L
  }

  def episode(seed: Long): Vector[Turn] = {
    val r = Gen.rng(seed, 21)
    final case class Source(id: Long, kind: Gen.Kind, text: String)
    var nextDoc = 0L
    var nextSource = 0L
    val extractedPages = mutable.ArrayBuffer.empty[Gen.GenPage]
    val extractedSources = mutable.LinkedHashMap.empty[String, Source]
    val seen = mutable.Set.empty[String]
    def pageOf(s: Source): (Gen.GenPage, Source) = {
      val p = Gen.page(seed, nextDoc, s.kind, s.id, s.text)
      nextDoc += 1
      (p, s)
    }
    def newSources(n: Int): Vector[Source] = {
      val kinds = Gen.kindPlan(n, r)
      val sizes = Gen.sizePlan(n, r)
      (0 until n).map { i =>
        val id = nextSource; nextSource += 1
        Source(id, kinds(i), Gen.sourceText(id, sizes(i), r))
      }.toVector
    }
    def earlierSources(n: Int): Vector[Source] =
      Gen.shuffle(extractedSources.values.toVector, r).take(n)
    Pattern.zipWithIndex.map { case (kind, t) =>
      val fresh: Vector[(Gen.GenPage, Source)] = kind match {
        case "write" =>
          val (seenN, replayN) = if (t == 0) (0, 0) else (SeenTexts, Replays)
          val srcs = newSources(Batch - InBatchRepeats - seenN - replayN)
          (srcs ++ Gen.shuffle(srcs, r).take(InBatchRepeats) ++ earlierSources(seenN)).map(pageOf)
        case "dup" => earlierSources(Batch).map(pageOf)
        case _ => Vector.empty
      }
      val replayN = kind match {
        case "replay" => Batch
        case "write" if t > 0 => Replays
        case _ => 0
      }
      val replayed = Gen.shuffle(extractedPages.toVector, r).take(replayN)
      require(fresh.size + replayed.size == Batch, s"turn $t: short batch")
      val ids = fresh.map(_._1.identity).distinct
      val expect = ids.count(id => !seen(id)).toLong
      seen ++= ids
      extractedPages ++= fresh.map(_._1)
      fresh.foreach { case (p, s) => extractedSources(p.identity) = s }
      Turn(kind, Gen.shuffle(fresh.map(_._1) ++ replayed, r), fresh.size, expect)
    }
  }

  def setup(ctx: Ctx, rep: Int): State = {
    val turns = episode(ctx.opts.seed)
    ctx.sameBytes(rep, Gen.digest(turns.flatMap(_.pages.map(_.page))))
    val dir = ctx.dir("batches")
    for ((t, i) <- turns.zipWithIndex)
      Io.writePages(ctx.spark, t.pages.map(_.page), s"$dir/turn=$i", 2 * ctx.cores)
    State(dir, turns, Io.kindSample(turns.flatMap(_.pages), 32, ctx.opts.seed))
  }

  private def run(ctx: Ctx, s: State, g: Int, out: Option[mutable.ArrayBuffer[Sample]]): Unit = {
    val t = ctx.tracer
    val ext = ctx.dir(s"extracted-$g")
    val dd = ctx.dir(s"deduped-$g")
    for ((turn, i) <- s.turns.zipWithIndex) {
      val pages = Io.readPages(ctx.spark, s"${s.dir}/turn=$i")
      val timed = ctx.measured(turn.kind)(t.span("Pipelines.incrementalDedup", "kind" -> turn.kind)(
        Pipelines.incrementalDedup(ctx.spark, pages, ext, dd, ctx.buckets)))
      val res = timed.value
      out.foreach { buf =>
        buf += timed.sample(turn.kind, g, Batch)
        ctx.check(s"episode $g turn $i (${turn.kind}): appended rows equal new distinct texts")(
          res.appendedRows == turn.expectAppended &&
            res.extractedSnapshot.isDefined == (turn.newUrls > 0))
        t.span("SnapshotLog.scan")(new SnapshotLog(ext).scan(ctx.spark, Schemas.extractedSchema))
        s.commits += Seq(res.extractedSnapshot, res.dedupedSnapshot).count(_.isDefined)
        s.calls += 1
        if (turn.newUrls > 0) { s.appended += res.appendedRows; s.fresh += turn.newUrls }
      }
    }
    out.foreach { _ =>
      ctx.check(s"episode $g: deduped table holds every distinct text once")(
        new SnapshotLog(dd).scan(ctx.spark, Pipelines.dedupedSchema).count() ==
          s.turns.map(_.expectAppended).sum)
      s.liveFiles = new SnapshotLog(ext).currentFiles().size + new SnapshotLog(dd).currentFiles().size
    }
    Io.delete(new java.io.File(ext))
    Io.delete(new java.io.File(dd))
  }

  /** Turn times keep falling over the first few episodes of a JVM, so a
    * whole episode runs untimed.
    */
  val warmUnits = 1
  def warm(ctx: Ctx, s: State, i: Int): Unit = run(ctx, s, -1 - i, None)

  def unit(ctx: Ctx, s: State, group: Int, out: mutable.ArrayBuffer[Sample]): Unit =
    run(ctx, s, group, Some(out))

  val mainKinds = Set("write")
  val auxKinds = Set("dup")

  def layers(ctx: Ctx, s: State): Seq[Metric] = {
    Io.floors(ctx, s.turns.indices.map(i => s"${s.dir}/turn=$i"))
    val q = Layers.KernelQueries.of(Gen.pools(1, Gen.rng(ctx.opts.seed, 9)))
    Layers.report(ctx.tracer, Layers.kernels(s.sample, q),
      Layers.Extras(commitsPerOp = s.commits.toDouble / s.calls, liveFiles = s.liveFiles,
        appendedRatio = s.appended.toDouble / s.fresh))
  }
}
