package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.core.SilverReader
import graft.runner.{AmtLoop, AmtPipeline, AmtRegistry}

/** The traced run: the same lake as the untraced run, built through
  * `runOnce` with a write listener attributing each gold write to its view,
  * through `runOnce` untraced (the baseline), and decomposed into outside-in
  * calls to each layer with a span around every call. */
final class Traced(r: Run) {
  import Run._

  private val spark = r.session
  private val a = r.a
  private val tracer = new Tracer(spark)
  private val work = r.work

  private val byName = AmtRegistry.byName
  /** views other views read: the pipeline caches these and fills them first */
  private val shared: Set[String] = AmtRegistry.all.flatMap(_.viewDeps).toSet
  private val SpineViews: Seq[String] = AmtRegistry.all.map(_.name).filter(shared)
  private val SpineEndpoints = Seq("studentSchoolAssociations", "studentSchoolAttendanceEvents",
    "studentSectionAttendanceEvents", "studentSectionAssociations", "grades",
    "studentAssessments", "calendarDates")

  private def closure(v: String): Set[String] = {
    val d = byName(v).viewDeps.toSet
    d ++ d.flatMap(closure)
  }
  /** dependencies before dependents, registry order otherwise */
  private def topo(views: Set[String]): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    def visit(v: String): Unit = if (!out.contains(v)) {
      byName(v).viewDeps.foreach(visit); out += v
    }
    AmtRegistry.all.map(_.name).filter(views).foreach(visit)
    out.toSeq
  }

  private var filesRead = 0L
  private var planNodes = 0L
  private var rewrites = 0L
  private var usefulRewrites = 0L
  /** per build unit (one year or one wave): endpoints changed, views rebuilt, critical path */
  private val units = ArrayBuffer.empty[(Int, Int, Double)]

  private def countNodes(p: SparkPlan): Long = p match {
    case aqe: AdaptiveSparkPlanExec => countNodes(aqe.inputPlan)
    case _ => 1L + p.children.map(countNodes).sum + p.subqueries.map(countNodes).sum
  }

  /** view -> gold content digest ("missing" when not written), in one query */
  private def digests(gold: Path, year: String, views: Seq[String]): Map[String, String] =
    Gold.checkDirs(spark, views.map(v => (v, Gold.viewDir(gold, year, v), v))).map { case (v, c) => v -> c.digest }

  /** One refresh, call by call: fingerprint, affected-set plan, forced
    * silver scans, per-view analysis and physical planning, spine cache
    * fills in topological order, then one gold write per view. Returns the
    * views it rewrote. */
  private def decomposed(silver: Path, gold: Path, year: String, changed: Set[String], cold: Boolean): Seq[String] = {
    val fps = tracer.span("loop.fingerprint", "loop")(AmtLoop.endpointFingerprints(silver.toString, year))
    val affected = tracer.span("loop.affected", "loop") {
      if (cold) AmtRegistry.all.map(_.name) else AmtLoop.affectedViews(changed)
    }
    if (affected.isEmpty) return affected
    val needed = topo(affected.toSet ++ affected.flatMap(closure))
    val reader = SilverReader(spark, silver.toString, year)
    needed.flatMap(byName(_).endpointDeps).distinct.sorted.foreach { ep =>
      tracer.span(s"core.read.$ep", "core") {
        reader.read(ep).write.format("noop").mode("overwrite").save()
      }
      val dir = silver.resolve(year).resolve(ep)
      if (Files.isDirectory(dir)) { val s = Files.list(dir); try filesRead += s.count() finally s.close() }
    }
    val p = new AmtPipeline(spark, silver.toString, year)
    val fill = scala.collection.mutable.Map.empty[String, Double]
    val write = scala.collection.mutable.Map.empty[String, Double]
    try {
      needed.foreach { v =>
        val df = tracer.span(s"views.analyze.$v", "views")(p.view(v))
        planNodes += countNodes(tracer.span(s"views.plan.$v", "views")(df.queryExecution.executedPlan))
      }
      needed.filter(shared).foreach { s =>
        val t0 = System.nanoTime()
        tracer.span(s"pipeline.fill.$s", "pipeline")(p.view(s).count())
        fill(s) = (System.nanoTime() - t0) / 1e9
      }
      affected.foreach { v =>
        val t0 = System.nanoTime()
        tracer.span(s"pipeline.write.$v", "pipeline")(p.writeViews(Seq(v), gold.toString))
        write(v) = (System.nanoTime() - t0) / 1e9
      }
    } finally p.release()
    def chain(s: String): Double =
      fill.getOrElse(s, 0.0) + (closure(s).filter(shared).map(chain) + 0.0).max
    val critical = affected.map(v =>
      write(v) + ((closure(v) + v).filter(shared).map(chain) + 0.0).max).max
    units += ((if (cold) fps.size else changed.size, affected.size, critical))
    affected
  }

  def apply(): Unit = {
    val l0 = r.lake(work.resolve("pristine-silver"), Some(tracer))
    val silver = work.resolve("silver")
    copyTree(l0.silver, silver)
    val l = l0.copy(silver = silver)
    val gold = work.resolve("gold")
    val year = l.year
    val insitu = new WriteListener

    // The write listener is passive. On full_year it observes the JVM's
    // first build, and a second, unobserved build is the untraced baseline,
    // so the decomposition after it is compared with a build that paid the
    // same JIT warm-up; on hourly_delta the observed waves are the baseline.
    val (untracedS, tracedS) = if (a.workload == "hourly_delta") {
      r.coldBuild(l, gold) // the standing lake
      r.goldenCheck(gold, digests = true)
      spark.listenerManager.register(insitu)
      def nonIdle(ws: Seq[Wave]) = ws.filter(_.kind != "idle").map(_.seconds)
      val first = Waves.Schedule.indexOf(TracedKind)
      val base = try nonIdle(r.waves(l, gold, 0L, TracedWaves, first, r.runOnceWave(l, gold)))
        finally drainAndUnregister(insitu)
      val traced = nonIdle(r.waves(l, gold, 0L, TracedWaves, first + TracedOffset, (_, changed) => {
        // the digests behind loop.useful_ratio are taken outside the clock
        val affected = AmtLoop.affectedViews(changed)
        val before = digests(gold, year, affected)
        val t0 = System.nanoTime()
        tracer.span("wave", "bench")(decomposed(silver, gold, year, changed, cold = false))
        val sec = (System.nanoTime() - t0) / 1e9
        val after = digests(gold, year, affected)
        rewrites += affected.size
        usefulRewrites += affected.count(v => after(v) != before(v))
        sec
      }))
      r.fromScratch(l, gold, work.resolve("scratch"))
      (base.sum / base.size, traced.sum / traced.size)
    } else {
      spark.listenerManager.register(insitu)
      try r.coldBuild(l, gold) finally drainAndUnregister(insitu)
      val base = r.coldBuild(l, gold)
      Run.deleteTree(gold)
      r.dropCaches()
      val t0 = System.nanoTime()
      val written = tracer.span("build", "bench")(decomposed(silver, gold, year, Set.empty, cold = true))
      val traced = (System.nanoTime() - t0) / 1e9
      // gold starts empty, so every view the cold build wrote changed
      rewrites += written.size
      usefulRewrites += written.count(v => Files.isDirectory(Gold.viewDir(gold, year, v)))
      r.checkGold(l, gold)
      (base, traced)
    }
    r.op(BusShim.drain(spark.sparkContext, DrainMillis), "listener bus drain timed out")
    val dropped = BusShim.droppedEvents(spark.sparkContext)
    r.op(dropped == 0, s"listener bus dropped $dropped events")
    report(untracedS, tracedS, insitu, l0)
    writeTrace(insitu)
  }

  private def drainAndUnregister(l: WriteListener): Unit = {
    r.op(BusShim.drain(spark.sparkContext, DrainMillis), "listener bus drain timed out")
    spark.listenerManager.unregister(l)
  }

  private def report(untracedS: Double, tracedS: Double, insitu: WriteListener, lake: Lake): Unit = {
    val spans = tracer.spans.toSeq
    def sum(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    def named(n: String) = spans.filter(_.name == n).map(_.seconds).sum
    def layerCounts(layer: String): Counts = {
      val c = new Counts; spans.filter(_.layer == layer).foreach(s => c += tracer.counts(s)); c
    }
    val m = r.metric _
    val ingestSpans = spans.filter(_.layer == "ingest")
    m("ingest.extract_s", ingestSpans.map(_.seconds).sum, "s", "")
    m("ingest.pages", lake.pages.toDouble, "count", "")
    m("ingest.bytes", lake.bytes.toDouble, "bytes", "")

    val core = layerCounts("core")
    m("core.read_s", sum("core.read."), "s", "")
    SpineEndpoints.foreach(e => m(s"core.read_s.$e", named(s"core.read.$e"), "s", ""))
    m("core.read_rows", core.inputRows.toDouble, "count", "")
    m("core.read_bytes", core.inputBytes.toDouble, "bytes", "")
    m("core.read_files", filesRead.toDouble, "count", "")
    m("core.read_tasks", core.tasks.toDouble, "count", "")

    m("views.analyze_s", sum("views.analyze."), "s", "")
    m("views.plan_s", sum("views.plan."), "s", "")
    m("views.plan_nodes", planNodes.toDouble, "count", "")

    val fillS = sum("pipeline.fill."); val writeS = sum("pipeline.write.")
    m("pipeline.fill_s", fillS, "s", "")
    SpineViews.foreach(v => m(s"pipeline.fill_s.$v", named(s"pipeline.fill.$v"), "s", ""))
    m("pipeline.write_s", writeS, "s", "")
    AmtRegistry.all.foreach(v => m(s"pipeline.write_s.${v.name}", named(s"pipeline.write.${v.name}"), "s", ""))
    m("pipeline.serial_s", fillS + writeS, "s", "")
    m("pipeline.critical_path_s", units.map(_._3).sum, "s", "")
    val untracedTotal = if (a.workload == "hourly_delta") untracedS * units.size else untracedS
    m("pipeline.overlap", (fillS + writeS) / untracedTotal, "ratio", s"(untraced=$untracedTotal s)")
    val writes = insitu.all
    m("pipeline.gold_rows", writes.map(_.rows).sum.toDouble, "count", "")
    m("pipeline.gold_bytes", writes.map(_.bytes).sum.toDouble, "bytes", "")
    m("pipeline.gold_files", writes.map(_.files).sum.toDouble, "count", "")
    m("pipeline.insitu_write_s", writes.map(_.seconds).sum, "s", s"(writes=${writes.size})")
    m("pipeline.insitu_writes", writes.size.toDouble, "count", "")

    m("loop.fingerprint_s", named("loop.fingerprint"), "s", "")
    m("loop.affected_s", named("loop.affected"), "s", "")
    val n = math.max(units.size, 1)
    m("loop.endpoints_changed", units.map(_._1).sum.toDouble / n, "count", "(per unit)")
    m("loop.views_rebuilt", units.map(_._2).sum.toDouble / n, "count", "(per unit)")
    m("loop.useful_ratio", usefulRewrites.toDouble / math.max(rewrites, 1), "ratio",
      s"(changed=$usefulRewrites rewritten=$rewrites)")

    Seq("core", "views", "pipeline").foreach { layer =>
      layerCounts(layer).metrics.foreach { case (k, v, u) => m(s"spark.$layer.$k", v, u, "") }
    }
    Seq("ingest", "core", "views", "pipeline", "loop").foreach { layer =>
      m(s"self_s.$layer", spans.filter(_.layer == layer).map(tracer.selfSeconds).sum, "s", "")
    }
    m("trace.overhead_s", tracedS - untracedS, "s", f"(traced=$tracedS%.3f untraced=$untracedS%.3f)")
  }

  private def writeTrace(insitu: WriteListener): Unit = {
    val out = a.dir.resolve("out")
    Files.createDirectories(out)
    val writes = insitu.all.map(w =>
      s"""{"view":${Js.enc(w.view)},"seconds":${w.seconds},"rows":${w.rows},"bytes":${w.bytes},"files":${w.files}}""")
    Files.writeString(out.resolve(s"trace-${a.workload}-${a.seed}.json"),
      s"""{"workload":"${a.workload}","seed":${a.seed},"spans":${tracer.toJson},""" +
        s""""insitu_writes":${writes.mkString("[", ",\n", "]")}}""" + "\n")
  }
}
