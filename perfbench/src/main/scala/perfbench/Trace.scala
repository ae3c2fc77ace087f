package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one job group. */
final class Counts {
  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, inputBytes, inputRows = 0L
  var cpuNs, runMs, gcMs = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; inputRows += o.inputRows
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
  }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("spill_bytes", spillBytes.toDouble, "bytes"), ("input_bytes", inputBytes.toDouble, "bytes"),
    ("executor_cpu_s", cpuNs / 1e9, "s"), ("executor_run_s", runMs / 1e3, "s"),
    ("gc_s", gcMs / 1e3, "s"))
}

/** The benchmark's own listener: attributes every job, stage and task to the
  * job group that was set on the submitting thread (the span that caused
  * it). Threads started inside a call inherit the group, so a
  * `writeViews` pool is attributed to the span around `writeViews`. */
final class GroupCounters extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counts]
  private val stageGroup = new ConcurrentHashMap[Int, String]

  private def of(group: String) = byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      of(group).synchronized(of(group).jobs += 1)
      j.stageIds.foreach(stageGroup.put(_, group))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(s.stageInfo.stageId)).foreach { g =>
      val c = of(g); c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(t.stageId)).foreach { g =>
      val c = of(g)
      val m = t.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
        }
      }
    }

  def get(group: String): Counts = Option(byGroup.get(group)).getOrElse(new Counts)
}

final case class Span(id: Int, name: String, layer: String, parent: Int, start: Long, var end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory, one per outside-in call into a layer, each with its
  * own Spark job group so engine counters land on the span that caused them. */
final class Tracer(spark: SparkSession) {
  val spans = ArrayBuffer.empty[Span]
  val counters = new GroupCounters
  private var open: List[Span] = Nil
  spark.sparkContext.addSparkListener(counters)

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, open.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    open = s :: open
    val sc = spark.sparkContext
    sc.setJobGroup(s"${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def counts(s: Span): Counts = counters.get(s"${s.id}")

  /** Span duration minus the part covered by its children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    val c = counts(s).metrics.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":${Js.enc(s.name)},"layer":"${s.layer}","parent":${s.parent},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)},$c}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** In-situ write attribution: every gold write a `runOnce` performs is
  * mapped to its view through the command's output path, with the write's
  * duration and the command's own row/byte/file metrics. */
final class WriteListener extends QueryExecutionListener {
  final case class Write(view: String, seconds: Double, rows: Long, bytes: Long, files: Long)
  val writes = new java.util.concurrent.ConcurrentLinkedQueue[Write]

  private def writeNodes(p: SparkPlan): Seq[DataWritingCommandExec] =
    p.collect {
      case d: DataWritingCommandExec => Seq(d)
      case c: CommandResultExec => writeNodes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => writeNodes(a.executedPlan)
      case q: QueryStageExec => writeNodes(q.plan)
    }.flatten

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    writeNodes(qe.executedPlan).foreach { d =>
      d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          def m(k: String) = d.metrics.get(k).map(_.value).getOrElse(0L)
          writes.add(Write(i.outputPath.getName.stripSuffix(".parquet"), durationNs / 1e9,
            m("numOutputRows"), m("numOutputBytes"), m("numFiles")))
        case _ => ()
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def all: Seq[Write] = writes.asScala.toSeq
}
