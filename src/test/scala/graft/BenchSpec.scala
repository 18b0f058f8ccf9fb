package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The build-stage list both benches iterate: it names exactly the
  * recorded `*_build` entries, each stage's clear drops only its own
  * memo, and a stage that throws in the warmup shows up in the
  * artifact instead of vanishing. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    org.apache.spark.graft.ListenerDrain.drain(sc)
    sc.addSparkListener(l)
    try { body; org.apache.spark.graft.ListenerDrain.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("Bench's stages are the recorded *_build entries; BenchSome accepts each") {
    val recorded = "\"(\\w+_build)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get("BENCH_FULL.json")), UTF_8))
      .map(_.group(1)).toSet
    val names = Bench.buildStages.map(_.name)
    assert(names.distinct == names, "a stage is declared twice")
    assert(recorded.size == 12 && names.toSet == recorded)
    assert(BenchSome.unknown(names).isEmpty)
    assert(BenchSome.unknown(Seq("q1_agg", "no_such_build")) == Seq("no_such_build"))
  }

  test("each stage's clear drops only its own memo") {
    Bench.buildStages.foreach(_.build(spark, sf))
    Bench.buildStages.foreach { b =>
      b.clear()
      assert(jobsOf(b.build(spark, sf)) > 0, s"${b.name}: clear must force a rebuild")
      Bench.buildStages.filter(_ ne b).foreach { o =>
        assert(jobsOf(o.build(spark, sf)) == 0,
          s"clearing ${b.name} dropped the ${o.name} memo")
      }
    }
  }

  test("a stage that throws in warmup lands in warmup_failed and counts as failed") {
    val boom = BuildStage("boom_build", () => (),
      (_, _) => throw new IllegalStateException("deliberate"))
    val (full, compact) = Bench.run(spark, sf, Seq(boom), Some(Set("q1_agg")))
    assert(full.contains(
      """"warmup_failed":{"boom_build":"java.lang.IllegalStateException"}"""), full)
    assert(full.contains(""""failed":1,""") && compact.contains(""""failed":1,"""))
    assert(!full.contains(""""q1_agg":-1"""), "the healthy query must still be timed")
  }
}
