package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-span totals of the work Spark did for one benchmark call. */
final class Acc {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's own listener. It always sums task CPU time (the
  * untraced runs need it for `docs_per_cpu_s`); when a span is open it also
  * attributes every job, stage and task to that span through the job group
  * the span set, and to the engine source file named in the job's call site.
  */
final class Meter extends SparkListener {
  private var cpuNs = 0L
  private val bySpan = mutable.Map.empty[Int, Acc]
  private val bySite = mutable.Map.empty[(Int, String), Acc]
  private val stageKey = mutable.Map.empty[Int, (Int, String)]
  private val jobKey = mutable.Map.empty[Int, (Int, String, Long)]
  private val execSite = mutable.Map.empty[Long, String]

  private val EngineFrame = """(?m)^graft\.[^(]*\(([A-Za-z0-9_$]+)\.scala:""".r.unanchored
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r.unanchored

  def totalCpuNs: Long = synchronized(cpuNs)
  def span(id: Int): Acc = synchronized(bySpan.getOrElse(id, new Acc))
  def sites(id: Int): Map[String, Acc] =
    synchronized(bySite.collect { case ((`id`, file), a) => file -> a }.toMap)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt).getOrElse(-1)

  /** The engine source file that started the job. A SQL job takes it from
    * the first engine frame of its query's call stack (its stages run on
    * pool threads, so their names say nothing); any other job from the
    * name of its result stage, e.g. "localCheckpoint at Pipelines.scala:259".
    */
  private def siteOf(e: SparkListenerJobStart): String = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    exec.flatMap(id => execSite.get(id.toLong)).getOrElse {
      e.stageInfos.sortBy(-_.stageId).headOption.map(_.name) match {
        case Some(SiteFile(file)) => file
        case _ => "other"
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.details match {
        case EngineFrame(file) => file
        case _ => "other"
      }
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val key = (spanOf(e.properties), siteOf(e))
    e.stageIds.foreach(s => stageKey(s) = key)
    bySpan.getOrElseUpdate(key._1, new Acc).jobs += 1
    bySite.getOrElseUpdate(key, new Acc).jobs += 1
    jobKey(e.jobId) = (key._1, key._2, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobKey.remove(e.jobId).foreach { case (span, _, t0) =>
      bySpan.getOrElseUpdate(span, new Acc).jobWindows += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach { key =>
      bySpan.getOrElseUpdate(key._1, new Acc).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      val key = stageKey.getOrElse(e.stageId, (-1, "other"))
      for (a <- Seq(bySpan.getOrElseUpdate(key._1, new Acc), bySite.getOrElseUpdate(key, new Acc))) {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
  }
}

/** One timed call into the engine, made by the benchmark. */
final case class Span(id: Int, parent: Int, name: String, attrs: Map[String, String],
    startMs: Long, endMs: Long, wallS: Double)

/** What the listener saw for one span, reduced to the per-layer figures. */
final case class SpanStats(wallS: Double, jobs: Int, stages: Int, tasks: Int, cpuS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, inputMb: Double,
    driverGapS: Double, taskSkew: Double)

/** Spans kept in memory while the benchmark runs and written out at the end.
  * Spans are recorded only while `enabled`; otherwise [[span]] just runs its
  * body, so the untraced runs set no job groups.
  */
final class Tracer(spark: SparkSession, val meter: Meter) {
  var enabled = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(Tracer.GroupPrefix + id, name)
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9; val ms1 = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(Tracer.GroupPrefix + pid, pname)
          case None => sc.clearJobGroup()
        }
        done += Span(id, parent, name, attrs.toMap, ms0, ms1, wall)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def named(name: String, attrs: (String, String)*): Seq[Span] =
    done.filter(s => s.name == name && attrs.forall { case (k, v) => s.attrs.get(k).contains(v) }).toSeq

  private def descendants(id: Int): Seq[Int] =
    id +: done.filter(_.parent == id).flatMap(s => descendants(s.id)).toSeq

  /** Call time not covered by any Spark job is driver time: planning,
    * manifest IO, commits. Job windows come from the listener's job events.
    */
  def stats(s: Span): SpanStats = {
    val ids = descendants(s.id)
    val accs = ids.map(meter.span)
    val windows = accs.flatMap(_.jobWindows)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    windows.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    val heaviest = accs.flatMap(_.stageTaskMs.values).filter(_.nonEmpty).sortBy(-_.sum).headOption
    val skew = heaviest.map { t =>
      val med = Stats.median(t.map(_.toDouble).toSeq)
      if (med > 0) t.max / med else 1.0
    }.getOrElse(1.0)
    SpanStats(
      wallS = s.wallS, jobs = accs.map(_.jobs).sum, stages = accs.map(_.stages).sum,
      tasks = accs.map(_.tasks).sum, cpuS = accs.map(_.cpuNs).sum / 1e9,
      shuffleWriteMb = accs.map(_.shuffleWrite).sum / 1e6,
      shuffleReadMb = accs.map(_.shuffleRead).sum / 1e6,
      spillMb = accs.map(_.spill).sum / 1e6, inputMb = accs.map(_.input).sum / 1e6,
      driverGapS = math.max(0.0, s.wallS - covered / 1e3), taskSkew = skew)
  }

  def json: String = done.map { s =>
    val st = stats(s)
    val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"attrs":{$attrs},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},"jobs":${st.jobs},""" +
      s""""stages":${st.stages},"tasks":${st.tasks},"task_cpu_s":${st.cpuS},""" +
      s""""shuffle_write_mb":${st.shuffleWriteMb},"shuffle_read_mb":${st.shuffleReadMb},""" +
      s""""spill_mb":${st.spillMb},"input_mb":${st.inputMb},"driver_gap_s":${st.driverGapS},""" +
      s""""task_skew":${st.taskSkew}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final val GroupPrefix = "perfbench-"
}
