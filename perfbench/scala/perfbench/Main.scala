package perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** Closed-loop driver: one client issues the workload's ops back to back
  * against the engine, reached only through `GraftSession.local`/`close`,
  * `SparkEntry.queries` and the table directory the queries read.
  *
  * An op is one query: build its DataFrame and materialise the full
  * result to Spark's `noop` sink. `count()` is not used: Catalyst prunes
  * the projected columns and drops the final sort under `count()`, so it
  * under-reports what a consumer of the result pays. After the timed
  * region each op's rows are collected and compared to the expected
  * record (see [[Canon]]); a throw or a wrong result fails the op.
  *
  * Modes (first argument):
  *  - `bench key=value...`: one benchmark run; writes a JSON report.
  *  - `record <verifyDumpDir> <out.gz>`: build the expected record from a
  *    `graft.Verify` parquet dump.
  *  - `selftest key=value...`: plant one wrong expected result and show
  *    that the comparison reports it.
  *  - `checkall key=value...`: run every driver query once and check it.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("bench") => bench(kv(args.tail))
    case Some("record") => record(args(1), args(2))
    case Some("selftest") => selftest(kv(args.tail))
    case Some("checkall") => checkAll(kv(args.tail))
    case _ => sys.error("usage: Main bench|record|selftest ...")
  }

  private def kv(a: Array[String]): Map[String, String] =
    a.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap

  // ---- host probes ---------------------------------------------------

  /** Fixed single-threaded CPU probe: MD5 over a constant 4 KiB buffer,
    * 100k rounds. The work never changes, so its wall time moves only
    * with host load; it brackets each run in the run record. */
  def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000) { sink += md.digest(buf)(0); i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink == Long.MinValue) println(sink)
    sec
  }

  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).map(_.drop(key.length).trim.split("\\s+")(0).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
  private def forks(): Long = procField("/proc/stat", "processes")
  private def writeBytes(): Long = procField("/proc/self/io", "write_bytes:")
  private def vmHwmMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // ---- ops -----------------------------------------------------------

  final case class Op(id: Int, pass: Int, query: String, startMs: Long, endMs: Long,
      seconds: Double, error: Option[String])

  def loadExpected(path: String, only: String => Boolean = _ => true): Map[String, Canon.Result] = {
    val in = new BufferedReader(new InputStreamReader(
      new GZIPInputStream(Files.newInputStream(Paths.get(path))), "UTF-8"))
    try Canon.read(in, only) finally in.close()
  }

  def check(df: DataFrame, exp: Option[Canon.Result]): Option[String] = exp match {
    case None => Some("no expected result recorded")
    case Some(e) => Canon.diff(Canon.of(df.schema, df.collect().iterator), e)
  }

  /** One op: build + materialise (timed), then the correctness check. */
  def runOp(spark: SparkSession, dir: String, id: Int, pass: Int, q: String,
      expected: Option[Map[String, Canon.Result]]): Op = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpKey, id.toString)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val built = try {
      val df = SparkEntry.queries(q)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      Right(df)
    } catch { case e: Throwable => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val sec = (System.nanoTime() - t0) / 1e9
    val end = System.currentTimeMillis()
    sc.setLocalProperty(Trace.OpKey, null)
    val err = built match {
      case Left(msg) => Some(msg)
      case Right(df) => expected match {
        case None => None
        case Some(m) =>
          try check(df, m.get(q))
          catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
    }
    Op(id, pass, q, start, end, sec, err)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach { p =>
      val t = to.resolve(p.getFileName.toString)
      if (Files.isDirectory(p)) copyTree(p, t) else Files.copy(p, t)
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  // ---- one benchmark run ---------------------------------------------

  def bench(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val ops = a("ops").split(",").toSeq
    val passes = math.max(1, math.round(seconds / a("pass_nominal_s").toDouble).toInt)
    val data = a("data")
    val snapRoot = Paths.get(a("snap_root"))
    val cold = workload == "snapshot-cold"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val mainEntryS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val calibStart = calibrate()
    val tExpected = System.nanoTime()
    val expected = loadExpected(a("expected"), ops.toSet)
    val expectedLoadS = (System.nanoTime() - tExpected) / 1e9

    val tSession = System.nanoTime()
    val base = GraftSession.local(cores)
    val sessionStart = (System.nanoTime() - tSession) / 1e9
    val rng = new Random(seed)
    var nextId = 0
    def newId(): Int = { nextId += 1; nextId }
    var session = base
    var snapDir: Option[Path] = None
    var seenPersisted = Set.empty[Int]
    var memoBuilds = 0

    /** One pass: every op once, in a seed-shuffled order. snapshot-cold
      * first moves to a new snapshot: a fresh copy of the tables under a
      * new path (so every dir-keyed memo misses) and a new session, and
      * retires the previous pass's session. Set-up passes (`timed` false)
      * carry negative op ids and skip the check. */
    def runPass(pass: Int, timed: Boolean): Seq[Op] = {
      val dir = if (!cold) data else {
        val next = snapRoot.resolve(s"pass$pass")
        copyTree(Paths.get(data), next)
        val s = base.newSession()
        if (session ne base) GraftSession.close(session)
        snapDir.foreach(deleteTree)
        session = s; snapDir = Some(next)
        next.toString
      }
      rng.shuffle(ops).map { q =>
        val id = newId()
        val op = runOp(session, dir, if (timed) id else -id, pass, q, if (timed) Some(expected) else None)
        val now = session.sparkContext.getPersistentRDDs.keySet.toSet
        if (timed) memoBuilds += (now -- seenPersisted).size
        seenPersisted ++= now
        op
      }
    }

    // set-up: untimed passes warm the JIT, codegen caches, fixtures and
    // memos, so the timed passes measure steady work (timed passes kept
    // getting faster for two or three passes after a single priming run)
    val setupPasses = a("setup_passes").toInt
    val primes = (1 to setupPasses).flatMap(p => runPass(-p, timed = false))
    val primeErrors = primes.flatMap(op => op.error.map(e => s"${op.query} (set-up): $e"))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val forks0 = forks(); val wb0 = writeBytes(); val gc0 = gcMs()
    val done = scala.collection.mutable.ArrayBuffer.empty[Op]
    val passSeconds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val heapAfterPass = scala.collection.mutable.ArrayBuffer.empty[Double]
    val mem = ManagementFactory.getMemoryMXBean
    val tMeasure = System.nanoTime()
    for (pass <- 1 to passes) {
      val ops = runPass(pass, timed = true)
      done ++= ops
      passSeconds += ops.map(_.seconds).sum
      heapAfterPass += mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val measureS = (System.nanoTime() - tMeasure) / 1e9
    val forks1 = forks(); val wb1 = writeBytes(); val gc1 = gcMs()
    val storage = base.sparkContext.getRDDStorageInfo
    val cachedFrames = storage.length
    val cachedBytes = storage.map(r => r.memSize + r.diskSize).sum

    if (traced) org.apache.spark.ListenerBusDrain(base.sparkContext)
    val spans = if (traced) Some(a("spans")) else None
    val layer = if (traced) Layers.compute(done.toSeq, cores, passes, spans) else Map.empty[String, (Double, String)]

    val tTeardown = System.nanoTime()
    if (session ne base) GraftSession.close(session)
    GraftSession.close(base)
    base.stop()
    val teardownS = (System.nanoTime() - tTeardown) / 1e9
    val peakRss = vmHwmMb()
    val calibEnd = calibrate()

    val lat = done.map(_.seconds).sorted.toIndexedSeq
    val (tailPct, tailVal) = Stats.tail(lat)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(passSeconds.toSeq), "s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tailVal, "s"),
      ("peak_rss_mb", peakRss, "MB"))
    val perPass = passes.toDouble
    val hostLayer: Seq[(String, Double, String)] = Seq(
      ("session.start_s", sessionStart, "s"),
      ("memo.builds", memoBuilds / perPass, "count/pass"),
      ("memo.cached_frames", cachedFrames.toDouble, "count"),
      ("memo.cached_bytes", cachedBytes.toDouble, "B"),
      ("os.forks", (forks1 - forks0) / perPass, "count/pass"),
      ("os.write_bytes", (wb1 - wb0) / perPass, "B/pass"),
      ("jvm.gc_s", (gc1 - gc0) / 1000.0 / perPass, "s/pass"),
      ("jvm.heap_after_pass_mb", Stats.median(heapAfterPass.toSeq), "MB"))

    val failures = primeErrors ++ done.flatMap(o => o.error.map(e => s"${o.query} (pass ${o.pass}): $e"))
    val metrics =
      if (traced) hostLayer.map { case (k, v, u) => k -> (v, u) }.toMap ++ layer
      else e2e.map { case (k, v, u) => k -> (v, u) }.toMap
    val record = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "cores" -> cores.toString, "passes" -> passes.toString, "ops_per_pass" -> ops.size.toString,
      "ops" -> Json.arr(ops.map(Json.str)),
      "measure_s" -> Json.num(measureS),
      "teardown_s" -> Json.num(teardownS),
      "pass_s" -> Json.num(Stats.median(passSeconds.toSeq)),
      "pass_s_all" -> Json.arr(passSeconds.toSeq.map(Json.num)),
      "op_tail_percentile" -> Json.num(tailPct), "op_samples" -> lat.size.toString,
      "setup_parts_s" -> Json.obj((Seq("jvm_to_main" -> mainEntryS, "expected_load" -> expectedLoadS,
        "session_start" -> sessionStart) ++ primes.map(o => s"setup.pass${-o.pass}.${o.query}" -> o.seconds))
        .map { case (k, v) => k -> Json.num(v) }: _*),
      "calib_start_s" -> Json.num(calibStart), "calib_end_s" -> Json.num(calibEnd),
      "jvm_args" -> Json.arr(ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq.map(Json.str)),
      "per_query_median_s" -> Json.obj(done.groupBy(_.query).toSeq.sortBy(_._1).map { case (q, os) =>
        q -> Json.num(Stats.median(os.map(_.seconds).toSeq)) }: _*))
    val out = Json.obj(
      "attempted" -> done.size.toString,
      "failed" -> done.count(_.error.nonEmpty).toString,
      "setup_failures" -> primeErrors.size.toString,
      "failures" -> Json.arr(failures.map(Json.str)),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*),
      "record" -> record)
    Files.writeString(Paths.get(a("out")), out)
  }

  // ---- expected record and self-test --------------------------------

  def record(dumpDir: String, outPath: String): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-record")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val w = new OutputStreamWriter(new GZIPOutputStream(Files.newOutputStream(Paths.get(outPath))), "UTF-8")
    try SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val df = spark.read.parquet(s"$dumpDir/$q")
      Canon.write(q, Canon.of(df.schema, df.collect().iterator), w)
    } finally w.close()
    spark.stop()
  }

  def checkAll(a: Map[String, String]): Unit = {
    val expected = loadExpected(a("expected"))
    val spark = GraftSession.local(a("cores").toInt)
    val ops = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (q, i) =>
      val op = runOp(spark, a("data"), i + 1, 0, q, Some(expected))
      println(f"checkall $q%-34s ${op.seconds}%7.3f s  ${op.error.getOrElse("match")}")
      op
    }
    GraftSession.close(spark); spark.stop()
    val bad = ops.count(_.error.nonEmpty)
    println(s"checkall ${ops.size - bad}/${ops.size} queries match the record")
    if (bad > 0) sys.exit(1)
  }

  /** Runs two queries against the record: once as recorded (must match)
    * and once against a planted wrong result (must be reported): an
    * exact-cell change for a query without float columns, and a float
    * change of 1e-6 (well outside the 1e-9 tolerance) for one with them. */
  def selftest(a: Map[String, String]): Unit = {
    val expected = loadExpected(a("expected"))
    val spark = GraftSession.local(a("cores").toInt)
    val results = Seq(a("exact_query"), a("float_query")).map { q =>
      val df = SparkEntry.queries(q)(spark, a("data"))
      val got = Canon.of(df.schema, df.collect().iterator)
      val e = expected(q)
      val wrong = e.floats match {
        case Some(groups) =>
          val (k, rows) = groups.head
          val bumped = rows.head.clone(); bumped(0) = bumped(0) + 1e-6 * math.max(1.0, math.abs(bumped(0)))
          e.copy(floats = Some(groups.updated(k, bumped +: rows.tail)))
        case None => e.copy(digest = (e.digest._1 + 1, e.digest._2))
      }
      (q, Canon.diff(got, e), Canon.diff(got, wrong))
    }
    GraftSession.close(spark); spark.stop()
    results.foreach { case (q, asRecorded, planted) =>
      println(s"selftest $q: as recorded -> ${asRecorded.getOrElse("match")}; " +
        s"planted wrong result -> ${planted.getOrElse("MISSED")}")
    }
    val ok = results.forall { case (_, r, p) => r.isEmpty && p.nonEmpty }
    println(if (ok) "selftest PASS" else "selftest FAIL")
    if (!ok) sys.exit(1)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it
    * (nearest rank), as (percentile, value); the median when there are
    * fewer than 21 samples. */
  def tail(sorted: IndexedSeq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n < 21) (50.0, median(sorted))
    else {
      val i = n - 11 // ten samples beyond index i
      (100.0 * (i + 1) / n, sorted(i))
    }
  }
}

/** Minimal JSON writer (values arrive pre-rendered). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String = kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
