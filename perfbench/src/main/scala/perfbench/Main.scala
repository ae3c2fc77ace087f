package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.runner.{AmtLoop, AmtRegistry}

/** The product benchmark: seeded Ed-Fi silver -> `AmtLoop.runOnce` -> AMT
  * gold, cold and as an hourly CDC refresh. Usage:
  *
  * {{{
  * Main --workload full_year|hourly_delta --seed N --seconds S
  *      --trace 0|1 --dir <benchmark dir> [--write-golden]
  * }}}
  *
  * Prints one `[perfbench] name = value unit (n=samples)` line per metric,
  * then, as the last line, the JSON result object. See README.md. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dir: Path, writeGolden: Boolean)

  val Workloads = Seq("full_year", "hourly_delta")

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = kv.getOrElse("--workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    Args(workload, kv("--seed").toLong, kv("--seconds").toInt, kv.getOrElse("--trace", "0") == "1",
      Paths.get(kv("--dir")).toAbsolutePath, argv.contains("--write-golden"))
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: Exception => System.err.println(s"[perfbench] bad arguments: ${e.getMessage}"); sys.exit(2)
    }
    val code = try new Run(args).apply() catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    sys.exit(code)
  }
}

/** Peak heap held by cached frames: the sum of in-memory sizes of the RDD
  * blocks the block manager holds, tracked from block updates. This is the
  * memory caching moves work into; unlike sampled JVM heap use it does not
  * depend on when the collector runs. */
final class CacheSampler extends SparkListener {
  private val sizes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  @volatile private var current = 0L
  @volatile private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      val before = Option(sizes.put(info.blockId.name, now)).map(_.longValue).getOrElse(0L)
      current += now - before
      peak = math.max(peak, current)
    }
  }

  def peakMb: Double = peak / 1048576.0
}

/** One CDC wave: its kind and `runOnce` wall time. */
final case class Wave(kind: String, seconds: Double)

/** One generated lake: silver for one school year, ready to build. */
final case class Lake(silver: Path, gen: SilverGen, rows: Long, pages: Long, bytes: Long) {
  def year: String = gen.year.toString
}

final class Run(private[perfbench] val a: Main.Args) {
  import Run._

  private[perfbench] val work = a.dir.resolve("work").resolve("run")
  private var attempted = 0L
  private var failed = 0L
  private val lines = ArrayBuffer.empty[String]
  private val metrics = ArrayBuffer.empty[(String, Double, String)]

  /** Count one operation; a false outcome is a failure, never an exception. */
  private[perfbench] def op(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] FAILED: $what") }
    ok
  }

  private[perfbench] def metric(name: String, value: Double, unit: String, note: String = ""): Unit = {
    metrics += ((name, value, unit))
    lines += f"[perfbench] $name = $value%.6f $unit $note".trim
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private def mark(what: String): Unit =
    lines += f"[perfbench] at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $what"

  private def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  private var spark: SparkSession = _
  private[perfbench] def session: SparkSession = spark

  private[perfbench] def dropCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }

  private[perfbench] def lake(dir: Path, tracer: Option[Tracer] = None): Lake = {
    fresh(dir)
    val gen = new SilverGen(seed, LastYear, scale)
    val data = gen.generate()
    val rows = data.valuesIterator.map(_.size.toLong).sum
    val (pages, bytes) = tracer match {
      case Some(t) => t.span("ingest.extract", "ingest")(StubOds.extract(data, dir, LastYear.toString))
      case None => StubOds.extract(data, dir, LastYear.toString)
    }
    Lake(dir, gen, rows, pages, bytes)
  }

  /** Cold build: empty gold, no `_state`, caches dropped. */
  private[perfbench] def coldBuild(l: Lake, gold: Path): Double = {
    fresh(gold)
    dropCaches()
    val t0 = System.nanoTime()
    op(AmtLoop.runOnce(spark, l.silver.toString, gold.toString, l.year), "cold runOnce did not build")
    secondsSince(t0)
  }

  /** Schema and non-emptiness of every view, from the parquet footers. */
  private[perfbench] def checkGold(l: Lake, gold: Path): Unit = {
    val checks = Gold.footers(gold, l.year)
    val badSchema = checks.filterNot(_.schemaOk).map(_.view)
    op(badSchema.isEmpty, s"gold schema differs from outputColumns: ${badSchema.mkString(", ")}")
    val empty = checks.filter(_.rows <= 0).map(_.view)
    op(empty.isEmpty, s"views with no rows: ${empty.mkString(", ")}")
    lines += s"[perfbench] views_nonempty = ${checks.size - empty.size} of ${checks.size}"
  }

  /** Closed loop of CDC waves on the lake `l`: each wave lands after
    * the previous `runOnce` returned. Runs until `until` (nanoTime) and at
    * least `minNonIdle` non-idle waves. */
  private[perfbench] def waves(l: Lake, gold: Path, until: Long, minNonIdle: Int, first: Int,
      body: (String, Set[String]) => Double): Seq[Wave] = {
    // full_year refreshes its large lake with the narrowest wave only: the
    // cost measured there is a refresh's fixed cost at large-lake size
    val kindOf: Int => String = if (a.workload == "full_year") _ => "descriptor" else Waves.kind
    val year = l.year
    val out = ArrayBuffer.empty[Wave]
    var n = first
    while (System.nanoTime() < until || out.count(_.kind != "idle") < minNonIdle) {
      val k = kindOf(n)
      val changed = Waves.land(l.gen, k, n, l.silver, year)
      val before = Gold.stamps(gold, year)
      val sec = body(k, changed)
      val after = Gold.stamps(gold, year)
      val rewritten = after.keySet.filter(v => after(v) != before(v))
      val allowed = AmtLoop.affectedViews(changed).toSet
      op(rewritten.subsetOf(allowed),
        s"wave $n ($k) rewrote views outside affectedViews: ${(rewritten -- allowed).mkString(", ")}")
      if (k == "idle") op(rewritten.isEmpty, s"idle wave $n rewrote ${rewritten.mkString(", ")}")
      else op(rewritten.nonEmpty, s"wave $n ($k) rewrote nothing")
      out += Wave(k, sec)
      n += 1
    }
    out.toSeq
  }

  private[perfbench] def runOnceWave(l: Lake, gold: Path)(k: String, changed: Set[String]): Double = {
    val t0 = System.nanoTime()
    val built = AmtLoop.runOnce(spark, l.silver.toString, gold.toString, l.year)
    val sec = secondsSince(t0)
    if (k == "idle") op(!built, "idle wave built")
    else op(built, s"non-idle $k wave: runOnce returned false")
    sec
  }

  /** Every view of the refreshed lake equals a from-scratch rebuild over the
    * same silver. Returns the rebuild's wall time. */
  private[perfbench] def fromScratch(l: Lake, gold: Path, scratch: Path): Double = {
    val sec = coldBuild(l, scratch)
    val year = l.year
    val all = AmtRegistry.all.map(_.name)
    val got = Gold.checkDirs(spark, all.flatMap(v => Seq(
      (s"s:$v", Gold.viewDir(scratch, year, v), v), (s"r:$v", Gold.viewDir(gold, year, v), v))))
    val badSchema = all.filterNot(v => got(s"s:$v").schemaOk)
    op(badSchema.isEmpty, s"rebuilt gold schema differs from outputColumns: ${badSchema.mkString(", ")}")
    val diff = all.filter(v => got(s"s:$v").digest != got(s"r:$v").digest)
    op(diff.isEmpty, s"refreshed gold differs from a from-scratch rebuild: ${diff.mkString(", ")}")
    sec
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def apply(): Int = {
    require(Files.isDirectory(a.dir), s"no benchmark directory ${a.dir}")
    fresh(work)
    val tStart = System.nanoTime()
    spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$Cores]").appName("perfbench"), Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val sessionS = secondsSince(tStart)

    lines += f"[perfbench] session start $sessionS%.3f s"
    mark("session up")

    try if (a.trace) new Traced(this).apply() else untraced(sessionS)
    finally {
      mark("checks done")
      spark.stop()
      deleteTree(work)
      mark("stopped")
    }
    lines.foreach(println)
    println(f"[perfbench] failed_ratio = ${failed.toDouble / math.max(attempted, 1)}%.6f ratio " +
      s"(failed=$failed attempted=$attempted)")
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$m}}""")
    0
  }

  private def manifestFile: Path = a.dir.resolve("golden.txt")

  /** view -> "rows digest" of the hourly_delta standing lake */
  private def manifest: Map[String, String] =
    if (!Files.exists(manifestFile)) Map.empty
    else Files.readString(manifestFile).linesIterator.map(_.split(" ", 2))
      .collect { case Array(v, r) => v -> r }.toMap

  /** The hourly_delta standing lake is generated from a fixed seed, so its
    * cold build must reproduce the committed per-view row counts and, when
    * `digests`, content digests, whatever seed drives the waves. Untraced
    * runs compare row counts read from the parquet footers; the digest
    * query costs a few seconds of the per-run budget, so traced runs make
    * it. `--write-golden` rewrites the manifest from this build. */
  private[perfbench] def goldenCheck(gold: Path, digests: Boolean): Unit = {
    val got = if (digests || a.writeGolden) Gold.check(spark, gold, LastYear.toString)
      else Gold.footers(gold, LastYear.toString)
    if (a.writeGolden)
      Files.writeString(manifestFile, got.map(c => s"${c.view} ${c.rows} ${c.digest}").mkString("", "\n", "\n"))
    op(got.forall(_.schemaOk), "standing lake: gold schema differs from outputColumns")
    op(got.forall(_.rows > 0), s"standing lake: empty views ${got.filter(_.rows <= 0).map(_.view).mkString(", ")}")
    val want = manifest
    def key(c: Gold.ViewCheck) = if (digests) s"${c.rows} ${c.digest}" else s"${c.rows}"
    def wanted(v: String) = want.get(v).map(w => if (digests) w else w.takeWhile(_ != ' '))
    val bad = got.filter(c => !wanted(c.view).contains(key(c))).map(_.view)
    op(bad.isEmpty && want.size == got.size,
      s"golden manifest mismatch for: ${bad.mkString(", ")} (manifest has ${want.size} views)")
  }

  /** full_year's lake comes from `--seed`; hourly_delta's standing lake
    * from the fixed `GoldenSeed`, and `--seed` drives its waves. */
  private def seed: Long = if (a.workload == "full_year") a.seed else GoldenSeed
  private def scale: Scale = if (a.workload == "full_year") FullYear else MediumYear

  private def untraced(fixedSetupS: Double): Unit = {
    val silver = work.resolve("silver")
    val gold = work.resolve("gold")
    val pristine = work.resolve("pristine")
    // silver generation and extraction repeat and report their median, so
    // work moved into set-up shows
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val l = lake(pristine.resolve("silver"))
      (secondsSince(t0), l)
    }
    val base = setups.last._2
    // hourly_delta's standing lake: one cold build, the JVM's first, which
    // is also its build_s sample, checked against the golden manifest
    val standingS = if (a.workload != "hourly_delta") None else {
      val sec = coldBuild(base, pristine.resolve("gold"))
      goldenCheck(pristine.resolve("gold"), digests = false)
      Some(sec)
    }
    val tRestore = System.nanoTime()
    copyTree(base.silver, silver)
    if (standingS.isDefined) copyTree(pristine.resolve("gold"), gold)
    val l = base.copy(silver = silver)
    val setupS = fixedSetupS + median(setups.map(_._1)) + standingS.getOrElse(0.0) + secondsSince(tRestore)
    lines += "[perfbench] silver set-up repetitions: " + setups.map(s => f"${s._1}%.3f").mkString(" ") + " s"
    mark("set-up done")

    val cache = new CacheSampler
    spark.sparkContext.addSparkListener(cache)
    val t0 = System.nanoTime()
    val until = t0 + (a.seconds * 1e9).toLong
    // full_year: one cold build, the first in the JVM, as a cron-started
    // AmtRun pays it
    val buildS = standingS.getOrElse {
      val sec = coldBuild(l, gold)
      checkGold(l, gold)
      sec
    }
    val goldBytes = Gold.bytes(gold)
    val refresh = waves(l, gold, until, minWaves(a.workload), 0, runOnceWave(l, gold))
    op(BusShim.drain(spark.sparkContext, DrainMillis), "listener bus drain timed out")
    val dropped = BusShim.droppedEvents(spark.sparkContext)
    op(dropped == 0, s"listener bus dropped $dropped events")
    val peak = cache.peakMb
    mark("measured region done")

    val nonIdle = refresh.filter(_.kind != "idle").map(_.seconds)
    metric("setup_s", setupS, "s", s"(n=${setups.size})")
    metric("build_s", buildS, "s", "(n=1)")
    metric("silver_rows_per_s", l.rows / buildS, "1/s", s"(rows=${l.rows})")
    metric("refresh_s", median(nonIdle), "s",
      s"(n=${nonIdle.size}: ${refresh.map(w => f"${w.kind}:${w.seconds}%.3f").mkString(" ")})")
    metric("peak_cache_mb", peak, "MB", "(RDD blocks held in memory)")
    metric("gold_bytes_per_silver_byte", goldBytes.toDouble / l.bytes, "ratio",
      s"(gold=$goldBytes silver=${l.bytes})")
    val (p, tail) = tailPercentile(nonIdle)
    lines += (if (p > 0) f"[perfbench] refresh_tail_s = $tail%.6f s (p$p, n=${nonIdle.size})"
      else s"[perfbench] refresh_tail_s = n/a (n=${nonIdle.size}: no percentile has ten samples above it)")
  }
}

object Run {
  val Cores = 4
  val LastYear = 2024
  val GoldenSeed = 20241017L
  val FullYear = Scale(schools = 4, studentsPerSchool = 190)
  /** the hourly_delta standing lake, generated from `GoldenSeed` */
  val MediumYear = Scale(schools = 3, studentsPerSchool = 60)
  val SetupReps = 3
  /** non-idle waves a run makes at least: full_year's descriptor waves cost
    * about a second each and the first few run slower while the JIT warms
    * up, so twelve put the median among warm waves; hourly_delta's first
    * five waves (attendance, enrollment, grades, idle, descriptor) hold four
    * non-idle ones and every kind */
  def minWaves(workload: String): Int = if (workload == "full_year") 12 else 4
  /** The traced hourly_delta run refreshes once untraced (the baseline) and
    * once decomposed, each time with one wave of the widest fan-out; more
    * waves do not fit a traced run's time limit on a loaded host. */
  val TracedWaves = 1
  val TracedKind = "enrollment"
  /** wave-number offset of the decomposed phase: whole schedule periods, so
    * it lands the same kind, but not a multiple of the 20-wave cycle of
    * enrollment dates, so it lands other rows than the baseline wave */
  val TracedOffset = 1010
  val DrainMillis = 30000L

  /** Highest of p50/p75/p90/p95/p99 with at least ten samples above it. */
  def tailPercentile(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).map { p =>
      val i = math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)
      (p, i)
    }.find { case (_, i) => i >= 0 && s.size - 1 - i >= 10 }
      .map { case (p, i) => (p, s(i)) }.getOrElse((0, Double.NaN))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }
}
