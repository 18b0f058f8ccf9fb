package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

import graft.{GraftSession, Main, SparkEntry, Tables}
import graft.functions.{DotProduct, NearestCentroid, PolyHash, SimHash64, WordNgramHashes}
import graft.kmeans.KMeansQueries
import graft.operators.Dedup
import graft.sources.PointsSource

/** One benchmark run in a fresh JVM: set up a session, run the
  * workload's operation list as a closed loop (one thread, one
  * operation after another) for a cold round and then warm rounds until
  * `--seconds` have passed, and write every raw measurement as JSON.
  * `perfbench/run.py` launches this, checks the outputs and derives the
  * metrics; nothing here computes a median.
  *
  * Only public engine functions are called: `SparkEntry.queries(name)`
  * forced through a `noop` write, `Main.run`, `PointsSource`,
  * `Tables`, the `graft.functions` column functions and the build/clear
  * functions of the memoized build stages. */
object GraftBench {

  // ------------------------------------------------------------ build stages

  /** A memoized build stage: `clear` drops its memo and nothing else
    * (`Similarity.clearTrainCache`, which drops the ANN codebook and the
    * k-NN edges together, would need both stages run side by side). */
  final case class BuildStage(name: String, clear: () => Unit,
      build: (SparkSession, String) => Unit)

  val buildStages: Seq[BuildStage] = Seq(
    BuildStage("dedup_pairs_build",
      () => Dedup.clearPairCache(), (s, d) => { Dedup.ngramPairs(s, d); () }),
    BuildStage("dedup_labels_build",
      () => Dedup.clearLabelCache(), (s, d) => { Dedup.ngramLabels(s, d); () }),
    BuildStage("kmeans_train_build",
      () => KMeansQueries.clearFitCache(), (s, d) => KMeansQueries.trainFit(s, d)))

  // --------------------------------------------------------------- workloads

  /** Build stages run first in table order (later stages read earlier
    * ones); the seed permutes the remaining operations of each round. */
  final case class Workload(builds: Seq[String], ops: Seq[String])

  val workloads: Map[String, Workload] = Map(
    "kmeans" -> Workload(Seq("kmeans_train_build"),
      Seq("kmeans_csv_fit", "kmeans_fit")),
    "corpus" -> Workload(Seq("dedup_pairs_build", "dedup_labels_build"),
      Seq("dedup_components")))

  // --------------------------------------------------------------- arguments

  final case class Args(workload: String = "", seed: Long = 0L,
      seconds: Double = 10, trace: Boolean = false, data: String = "",
      points: Seq[String] = Nil, centres: Seq[(Double, Double)] = Nil,
      work: String = "", out: String = "", injectFailure: Boolean = false,
      pin: Boolean = false, setups: Int = 5, initSeed: Option[Long] = None,
      archive: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--data" :: v :: t => parse(t, a.copy(data = v))
    case "--points" :: v :: t => parse(t, a.copy(points = v.split(",").toSeq))
    case "--centres" :: v :: t => parse(t, a.copy(centres = v.split(";").toSeq.map { p =>
      val Array(x, y) = p.split(":"); (x.toDouble, y.toDouble) }))
    case "--work" :: v :: t => parse(t, a.copy(work = v))
    case "--out" :: v :: t => parse(t, a.copy(out = v))
    case "--init-seed" :: v :: t => parse(t, a.copy(initSeed = Some(v.toLong)))
    case "--inject-failure" :: t => parse(t, a.copy(injectFailure = true))
    case "--pin" :: t => parse(t, a.copy(pin = true, setups = 1))
    case "--archive" :: t => parse(t, a.copy(archive = true, setups = 1))
    case Nil => a
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  // ------------------------------------------------------------ raw records

  private val runStartNs = System.nanoTime()
  private val runStartUs = System.currentTimeMillis() * 1000L
  /** Microseconds since the epoch on the monotonic clock, comparable to
    * the listener's millisecond event times. */
  def nowUs: Long = runStartUs + (System.nanoTime() - runStartNs) / 1000L

  final case class Span(id: Int, parent: Int, kind: String, name: String,
      round: Int, traced: Boolean, startUs: Long, var endUs: Long = 0L,
      var error: String = "")

  private val spans = scala.collection.mutable.ArrayBuffer[Span]()
  private var nextId = 0
  def open(parent: Int, kind: String, name: String, round: Int,
      traced: Boolean): Span = {
    nextId += 1
    val s = Span(nextId, parent, kind, name, round, traced, nowUs)
    spans += s
    s
  }

  /** Job, stage and task events, recorded while `on` is set; stage and
    * job events post asynchronously, so readers drain the bus first. */
  final class Recorder extends SparkListener {
    @volatile var on = false
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val retries = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts.put(e.jobId,
        s""""id":${e.jobId},"group":${Json.str(g)},"start_ms":${e.time},"stages":[${e.stageIds.mkString(",")}]""")
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) jobs.add(s"{$s,\"end_ms\":${e.time}}")
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(
        s"""{"id":${i.stageId},"attempt":${i.attemptNumber()},"tasks":${i.numTasks},""" +
        s""""shuffle_read":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill":${m.diskBytesSpilled},"run_ms":${m.executorRunTime},""" +
        s""""gc_ms":${m.jvmGCTime},"task_retries":${retries.getOrDefault(i.stageId, 0L)}}""")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskInfo.attemptNumber > 0) retries.merge(e.stageId, 1L, _ + _)
  }

  object Json {
    def str(s: String): String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b += '"'
      b.toString
    }
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  }

  // --------------------------------------------------------------- the run

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val w = if (a.pin || a.archive) Workload(Nil, Nil) else workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${a.workload}' (one of ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val stages = w.builds.map(n => buildStages.find(_.name == n).get)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)

    // set-up: the first sample runs from JVM start, the later ones
    // re-create the session after stopping the previous one
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    val sessionStartS = scala.collection.mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until a.setups) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStartUs else nowUs
      val s0 = nowUs
      spark = GraftSession.local(cores)
      spark.range(1).count()
      sessionStartS += (nowUs - s0) / 1e6
      setupS += (nowUs - t0) / 1e6
    }
    if (a.archive) {
      // class-loading pass for the build's class-data-sharing archive
      SparkEntry.queries("q1_agg")(spark, a.data).write.mode("overwrite").format("noop").save()
      spark.stop()
      return
    }
    val sc = spark.sparkContext
    val rec = new Recorder
    if (a.trace) sc.addSparkListener(rec)
    val dir = a.data

    // the CSV fit's init seed: the first seed from `--seed` on whose
    // seeded sample hits every generated blob (input generation, untimed;
    // run.py caches it beside the generated points)
    lazy val initSeed: Long = a.initSeed.getOrElse(chooseInitSeed(spark, a))
    val fitsCsv = w.ops.contains("kmeans_csv_fit")

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def query(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
    val fits = scala.collection.mutable.ArrayBuffer[String]()
    def csvFit(span: Span): Unit = {
      val m = Main.run(spark, Main.Args(a.points, k = 8, maxIter = 50,
        scenario = 2, seed = Some(initSeed), log = s"${a.work}/dump.txt"))
      fits += s"""{"span":${span.id},"converged":${m.converged},"iterations":${m.iterations},""" +
        s""""points":${m.sizes.values.sum},"centroids":${Json.arr(m.centroids.map(c =>
          s"[${c.id},${Json.num(c.x)},${Json.num(c.y)}]"))},"init":${Json.arr(m.history.head.map(c =>
          s"[${c.id},${Json.num(c.x)},${Json.num(c.y)}]"))}}"""
    }
    /** Forces the operation's result into `out`: the noop write, or a
      * parquet write that run.py checks. */
    def runOp(name: String, span: Span, out: DataFrame => Unit): Unit = name match {
      case "kmeans_csv_fit" => csvFit(span)
      case "inject_failure" =>
        throw new IllegalStateException("deliberate failure (--inject-failure)")
      case q => out(query(q))
    }
    // output checks: the first warm-up round writes each query op's result
    // once as parquet, which run.py digests against the pinned digest
    val checked = scala.collection.mutable.ArrayBuffer[String]()
    def written(o: String)(df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"${a.work}/results/$o")
      checked += o
    }

    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gc.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val roundStats = scala.collection.mutable.ArrayBuffer[String]()
    val rnd = new scala.util.Random(a.seed)
    val opsList = w.ops ++ (if (a.injectFailure) Seq("inject_failure") else Nil)
    val run = open(0, "run", a.workload, -1, a.trace)

    /** Runs `body` in a span linked to its Spark jobs by job group;
      * false if it threw. */
    def timed(parent: Span, kind: String, name: String, round: Int,
        traced: Boolean)(body: Span => Unit): Boolean = {
      val s = open(parent.id, kind, name, round, traced)
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      try { body(s); true }
      catch { case NonFatal(e) =>
        s.error = e.getClass.getName
        System.err.println(s"[perfbench] $name failed: $e")
        false
      } finally {
        s.endUs = nowUs
        sc.clearJobGroup()
      }
    }

    /** Round 0 is cold, rounds 1 and 2 warm up (round 1 writes the
      * outputs that are checked), later rounds are measured. */
    def round(r: Int, traced: Boolean): Span = {
      System.gc() // settles the previous round's garbage outside the spans
      rec.on = traced
      val g0 = gcMs
      val c0 = os.getProcessCpuTime
      val cg0 = compiles
      val rs = open(run.id, "round", s"round$r", r, traced)
      stages.foreach(_.clear()) // every clear before any build
      stages.foreach(b => timed(rs, "build", b.name, r, traced)(_ => b.build(spark, dir)))
      rnd.shuffle(opsList).foreach { o =>
        timed(rs, "op", o, r, traced)(s => runOp(o, s, if (r == 1) written(o) else noop))
      }
      if (traced) org.apache.spark.graft.ListenerDrain.drain(sc)
      rs.endUs = nowUs
      rec.on = false
      roundStats += s"""{"round":$r,"gc_s":${(gcMs - g0) / 1e3},""" +
        s""""cpu_s":${(os.getProcessCpuTime - c0) / 1e9},"codegen_compiles":${compiles - cg0}}"""
      rs
    }

    val phases = scala.collection.mutable.LinkedHashMap[String, Double]()
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = nowUs; body; phases(name) = (nowUs - t0) / 1e6
    }
    if (a.pin) {
      workloads.values.flatMap(_.ops).filter(_ != "kmeans_csv_fit").toSeq.distinct.sorted
        .foreach(o => timed(run, "op", o, -1, false)(s => runOp(o, s, written(o))))
    } else {
      phase("init_seed_s")(if (fitsCsv) initSeed)
      phase("cold_s")(round(0, a.trace))
      // rounds 1 and 2 warm up: after the cold round the JIT is still
      // compiling, and each of the next rounds is still faster than the
      // one before
      phase("warmup_s") { round(1, false); round(2, false) }
      val warm0 = nowUs
      var r = 3
      // at least four measured rounds; a traced run traces them in the
      // order off, on, on, off, ... so that the tracing overhead, measured
      // in-run, is not confounded with drift
      while (r < 7 || (nowUs - warm0) / 1e6 < a.seconds) {
        round(r, a.trace && ((r - 3) % 4 == 1 || (r - 3) % 4 == 2))
        r += 1
      }
      phases("measured_s") = (nowUs - warm0) / 1e6
    }
    // traced runs: the live heap with the last round's memos held, after
    // full collections around a pause that lets asynchronous block
    // removal finish
    val liveHeapMb = if (!a.trace) Double.NaN else {
      System.gc(); Thread.sleep(500); System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    // per-layer probes, traced runs only: isolated scans and selects
    val probes = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val probeStart = nowUs
    if (a.trace) {
      def probe(name: String, reps: Int = 3)(body: => Unit): Unit = {
        probes(name) = (1 to reps).map { _ =>
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
        }
      }
      if (fitsCsv)
        probe("sources.csv_scan_ms")(noop(PointsSource.scenario2(spark, a.points)))
      Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
        probe(s"tables.scan_ms.$t")(noop(Tables(spark, dir, t)))
      }
      val docs = Tables(spark, dir, "documents")
      probe("functions.poly_hash_ms")(noop(docs.select(PolyHash(col("text")))))
      probe("functions.word_ngram_hashes_ms")(
        noop(docs.select(WordNgramHashes(col("text"), 5))))
      probe("functions.simhash64_ms")(
        noop(docs.select(SimHash64(split(lower(col("text")), " ")))))
      val emb = Tables(spark, dir, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      probe("functions.dot_product_ms")(noop(emb.select(DotProduct(col("v"), col("v")))))
      val cxs = Array.tabulate(8)(i => 10.0 * i)
      val cys = Array.tabulate(8)(i => 5.0 * (i % 3))
      probe("functions.nearest_centroid_ms")(noop(Tables(spark, dir, "lineitem")
        .select(NearestCentroid((col("l_extendedprice") / 1000.0).cast(DoubleType),
          col("l_quantity").cast(DoubleType), cxs, cys))))
    }

    phases("probes_s") = (nowUs - probeStart) / 1e6
    run.endUs = nowUs
    if (a.trace) org.apache.spark.graft.ListenerDrain.drain(sc)

    val oracle = if (a.pin) checked.toSeq.flatMap(o =>
      SparkEntry.oracleSql.get(o).map(q => s"${Json.str(o)}:${Json.str(q)}"))
      else Nil
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_graft_cpus" -> Json.str(cores),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    spark.stop()

    val spanJson = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
      s""""round":${s.round},"traced":${s.traced},"start_us":${s.startUs},"end_us":${s.endUs},""" +
      s""""error":${Json.str(s.error)}}""")
    val body = Seq(
      "host" -> host.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "session_start_s" -> Json.arr(sessionStartS.map(Json.num)),
      "spans" -> Json.arr(spanJson),
      "jobs" -> Json.arr(rec.jobs.asScala),
      "stages" -> Json.arr(rec.stages.asScala),
      "round_stats" -> Json.arr(roundStats),
      "csv_fits" -> Json.arr(fits),
      "probes_ms" -> probes.map { case (k, v) =>
        s"${Json.str(k)}:${Json.arr(v.map(Json.num))}" }.mkString("{", ",", "}"),
      "checked" -> Json.arr(checked.map(Json.str)),
      "oracle_sql" -> oracle.mkString("{", ",", "}"),
      "peak_rss_kb" -> hwmKb.toString,
      "live_heap_mb" -> Json.num(liveHeapMb),
      "phases_s" -> phases.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}"),
      "init_seed" -> (if (fitsCsv) initSeed.toString else "null"))
    Files.write(Paths.get(a.out),
      body.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",\n", "}\n")
        .getBytes("UTF-8"))
  }

  // ------------------------------------------------------------ init seed

  /** `KMeans.initSample` ranks points by Spark's `xxhash64(pid, x, y,
    * seed)`; this replays that rank in this JVM for successive seeds
    * and returns the first whose K smallest ranks fall in K distinct
    * generated blobs, so the fit can be checked against the blob
    * centres. */
  def chooseInitSeed(spark: SparkSession, a: Args): Long = {
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
    val pts = PointsSource.scenario2(spark, a.points).collect()
    val k = a.centres.size
    val n = pts.length
    val base = new Array[Long](n)
    val blob = new Array[Int](n)
    val h = (v: Any, t: DataType, s: Long) => XxHash64Function.hash(v, t, s)
    var i = 0
    while (i < n) {
      val r = pts(i)
      val (pid, x, y) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      base(i) = h(y, DoubleType, h(x, DoubleType, h(pid, LongType, 42L)))
      blob(i) = a.centres.indices.minBy { j =>
        val (cx, cy) = a.centres(j); (x - cx) * (x - cx) + (y - cy) * (y - cy)
      }
      i += 1
    }
    var seed = a.seed * 1000003L
    var tries = 0
    var found = false
    val topR = new Array[Long](k)
    val topI = new Array[Int](k)
    // does (r, point i) rank before (topR(j), topI(j)) in initSample's order?
    def before(r: Long, i: Int, j: Int): Boolean =
      r < topR(j) || (r == topR(j) && pts(i).getLong(0) < pts(topI(j)).getLong(0))
    while (!found) {
      tries += 1
      require(tries <= 20000, "no init seed covers every blob")
      var filled = 0
      var j = 0
      while (j < n) {
        val r = XXH64.hashLong(seed, base(j))
        if (filled < k || before(r, j, k - 1)) {
          // insertion into the sorted top-k
          var p = math.min(filled, k - 1)
          while (p > 0 && before(r, j, p - 1)) {
            topR(p) = topR(p - 1); topI(p) = topI(p - 1); p -= 1
          }
          topR(p) = r; topI(p) = j
          if (filled < k) filled += 1
        }
        j += 1
      }
      found = topI.map(blob).distinct.length == k
      if (!found) seed += 1
    }
    seed
  }
}
