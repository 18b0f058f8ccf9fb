package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.{Dedup, Similarity}

/** SURVEY.md §2.D specs: brute-force exactness invariants and recall of
  * the approximate (IVF / LSH) paths against it on sf0.001. */
class SimilaritySpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def neighborSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private lazy val exact = neighborSets(Similarity.annBruteForce(spark, sf))

  test("bruteforce: k neighbors per query, no self-matches, ranked") {
    val rows = Similarity.annBruteForce(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == Similarity.NumQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.TopK)
      assert(rs.forall(_.getLong(1) != q))
      val ranks = rs.map(_.getInt(2)).sorted
      assert(ranks.sameElements(1 to Similarity.TopK))
    }
  }

  test("IVF recall@10 >= 0.9 vs brute force") {
    val approx = neighborSets(Similarity.annIvf(spark, sf))
    val recall = exact.map { case (q, ns) =>
      ns.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    info(f"IVF recall@10 = $recall%.3f (nprobe=${Similarity.NProbe}/${Similarity.NList})")
    assert(recall >= 0.9)
  }

  test("PqCode == plain-Scala argmin over real vectors and ties") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val subdim = 4
    val cbRows: Array[Seq[Double]] = Array(
      Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0),
      Seq(0.0, 0.0, 0.0, 0.0), // duplicate: tie must pick the FIRST
      Seq(-1.0, 2.0, 0.5, 0.25))
    val e = Tables(spark, sf, "embeddings").limit(200)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
    val got = e.select($"vec_id",
        graft.functions.PqCode($"v", 8, subdim, cbRows).as("code"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = e.select($"vec_id", $"v").collect().map { r =>
      val v = r.getSeq[Double](1)
      val ds = cbRows.map(c =>
        (0 until subdim).map(j => { val d = v(8 + j) - c(j); d * d }).sum)
      r.getLong(0) -> ds.zipWithIndex.minBy { case (d, i) => (d, i) }._2
    }.toMap
    assert(got == want)
    // tie-break: a vector exactly on codeword 0 (== codeword 2) → 0
    val z = Seq((0L, Seq.fill(12)(0.0))).toDF("vec_id", "v")
    assert(z.select(graft.functions.PqCode($"v", 8, subdim, cbRows))
      .head().getInt(0) == 0)
  }

  test("PQ recall@10 vs brute force, reported cosines exact") {
    val pq = Similarity.annPq(spark, sf)
    val approx = neighborSets(pq)
    val recall = exact.map { case (q, ns) =>
      ns.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    info(f"PQ recall@10 = $recall%.3f (M=${Similarity.PqBlocks}, K=${Similarity.PqCodes}, rerank=${Similarity.PqRerank})")
    assert(recall >= 0.7)
    // re-rank means every REPORTED cosine is the exact one: any
    // (q, n) pair the brute force also returns must carry an
    // identical rounded cosine
    val exactCos = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    pq.collect().foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(r.getDouble(3) == c, s"cosine must be exact for ${(r.getLong(0), r.getLong(1))}")
      }
    }
  }

  test("LSH recall@10 vs brute force above floor") {
    val approx = neighborSets(Similarity.annLsh(spark, sf))
    val recall = exact.map { case (q, ns) =>
      ns.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    info(f"LSH recall@10 = $recall%.3f (L=${Similarity.Tables_}, planes=${Similarity.NPlanes})")
    assert(recall >= 0.5)
  }

  test("IVF+PQ composite recall@10 vs brute force, reported cosines exact") {
    val out = Similarity.annIvfPq(spark, sf)
    val approx = neighborSets(out)
    val recall = exact.map { case (q, ns) =>
      ns.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    info(f"IVF+PQ recall@10 = $recall%.3f (nprobe=${Similarity.NProbe}/${Similarity.NList}, rerank=${Similarity.PqRerank})")
    // routing loss compounds with compressed-domain loss, so the floor
    // sits at the product of the family floors (0.9 × 0.7)
    assert(recall >= 0.6)
    // the exact re-rank means every REPORTED cosine is the true one
    val exactCos = Similarity.annBruteForce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    out.collect().foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(r.getDouble(3) == c, s"cosine must be exact for ${(r.getLong(0), r.getLong(1))}")
      }
    }
  }

  test("IVF+PQ exactness anchor: nprobe=nlist + full rerank reproduces brute force") {
    val bf = Similarity.annBruteForce(spark, sf).collect().map(_.toSeq).toSeq
    val anchor = Similarity.annIvfPqExact(spark, sf).collect().map(_.toSeq).toSeq
    assert(anchor == bf)
  }

  test("LSH exactness anchor: 0 planes reproduces brute force") {
    val bf = Similarity.annBruteForce(spark, sf).collect().map(_.toSeq).toSeq
    val anchor = Similarity.annLshExact(spark, sf).collect().map(_.toSeq).toSeq
    assert(anchor == bf)
  }

  test("knn_graph: every node ranked, no self-edges, degree <= K, dense ranks") {
    val rows = Similarity.knnGraph(spark, sf).collect()
    val n = Tables(spark, sf, "embeddings").count()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == n, s"every vector must appear as a node (${byQ.size} of $n)")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Similarity.KnnK)
      assert(!rs.exists(_.getLong(1) == q), s"self-edge at node $q")
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to rs.length),
        s"ranks must be dense at node $q")
    }
  }

  test("knn_graph recall@K >= 0.8 vs the exact anchor on the node sample") {
    val anchor = neighborSets(Similarity.knnGraphExact(spark, sf))
    val approx = neighborSets(Similarity.knnGraph(spark, sf)
      .filter(s"q_id < ${Similarity.KnnNodes}"))
    assert(anchor.keySet == approx.keySet)
    val recall = anchor.map { case (q, ns) =>
      ns.intersect(approx(q)).size.toDouble / ns.size
    }.sum / anchor.size
    info(f"knn_graph recall@${Similarity.KnnK} = $recall%.3f")
    assert(recall >= 0.8)
  }

  test("embedding_stats: every dimension censused, moments consistent, one exchange") {
    val out = Similarity.embeddingStats(spark, sf)
    val rows = out.collect()
    val nVecs = Tables(spark, sf, "embeddings").count()
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length),
      "dims must be dense from 1")
    rows.foreach { r =>
      assert(r.getLong(1) == nVecs, s"dim ${r.getInt(0)} count")
      assert(r.getDouble(3) >= 0.0, s"variance must be non-negative: $r")
      assert(r.getDouble(4) <= r.getDouble(2) + 1e-9
        && r.getDouble(2) <= r.getDouble(5) + 1e-9,
        s"min <= mean <= max: $r")
    }
    // the x64 posexplode is absorbed by the partial aggregate in the
    // scan stage: only the 64-group agg + final-sort exchanges exist,
    // so the exploded volume never ships
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exchanges = out.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 2,
      s"posexplode volume must never ship: ${exchanges.size} exchanges")
  }

  test("embedding_outliers: salted two-phase top-k ≡ the one-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val out = Similarity.embeddingOutliers(spark, sf).collect()
    // shape: dense ranks from 1, <= K rows per label, sorted output
    out.groupBy(_.getInt(0)).foreach { case (l, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length),
        s"label $l ranks must be dense from 1")
      assert(rs.length <= Similarity.OutlierK)
    }
    // the naive form: the PRODUCTION centroid (so a centroid change can
    // never silently diverge this reference), but ONE label-wide window
    // — the salted composition must reproduce it exactly (global
    // bottom-k ⊆ union of per-salt bottom-k)
    val cent = Similarity.labelCentroids(spark, sf)
    val naive = Tables(spark, sf, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", x => x.cast("double")).as("v"))
      .withColumn("nrm", graft.functions.DotProduct.norm($"v"))
      .join(broadcast(cent), Seq("label"))
      .withColumn("cos",
        graft.functions.DotProduct($"v", $"cv") / ($"nrm" * $"cnrm"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"label").orderBy($"cos", $"vec_id")))
      .filter($"rk" <= Similarity.OutlierK)
      .select($"label", $"rk", $"vec_id", round($"cos", 4).as("cos_c"))
      .collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))
    assert(out.map(key).toMap == naive.map(key).toMap,
      "salted two-phase must equal the single-window bottom-k")
  }

  test("knn_label_spread: vote arithmetic reproducible from the edge list") {
    // recompute every node's expected vote from the knnGraph edges +
    // labels by hand (sf0.01: 500×5 edges) and require the operator's
    // rows to match exactly — weights, tie-break, agree flag
    val labels = Tables(spark, sf, "embeddings").select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = Similarity.knnGraph(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val expected = edges.groupBy(_._1).map { case (q, es) =>
      val votes = es.groupBy(e => labels(e._2)).map { case (l, g) =>
        l -> (g.map(e => math.round(e._3 * 10000)).sum, g.size)
      }
      val (lab, (w, n)) = votes.minBy { case (l, (w, _)) => (-w, l) }
      q -> (labels(q), lab, w, n.toLong, if (labels(q) == lab) 1 else 0)
    }
    val got = Similarity.knnLabelSpread(spark, sf).collect().map(r =>
      r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getInt(5))).toMap
    assert(got == expected, "operator rows must equal the hand vote")
    // exact anchor shares the vote stage verbatim: sample-sized, full
    // degree (the exact graph always yields K edges per node)
    val ex = Similarity.knnLabelSpreadExact(spark, sf).collect()
    assert(ex.length == Similarity.KnnNodes)
    assert(ex.forall(_.getLong(4) <= Similarity.KnnK))
  }

  test("embedding_clusters: partitions the corpus, all seeds occupied, deterministic") {
    val out = Similarity.embeddingClusters(spark, sf).collect()
    assert(out.length == Similarity.ClusterK,
      s"every seed owns at least itself: ${out.length}")
    val n = Tables(spark, sf, "embeddings").count()
    assert(out.map(_.getLong(1)).sum == n, "clusters must partition the corpus")
    out.foreach(r => assert(r.getDouble(2) <= 1.0 && r.getDouble(2) >= -1.0))
    val again = Similarity.embeddingClusters(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "hash-rank seeds make the clustering run-deterministic")
  }

  test("clears release the PQ codes and k-NN checkpoints; evicted frames keep executing") {
    Similarity.clearTrainCache()
    val codes = Similarity.pqModel(spark, sf).codes
    val edges = Similarity.knnEdges(spark, sf)
    val (codeRows, edgeRows) = (codes.count(), edges.count())
    assert(Dedup.checkpointLive(codes) && Dedup.checkpointLive(edges))
    // four more keys (path variants of the same dir) evict the first:
    // eviction drops the entry and leaves a held frame executable
    val variants = (1 to 4).map(i => sf + "/." * i)
    variants.foreach { d => Similarity.pqModel(spark, d); Similarity.knnEdges(spark, d) }
    assert(codes.count() == codeRows && edges.count() == edgeRows,
      "a held frame must survive its cache eviction")
    val lastCodes = Similarity.pqModel(spark, variants.last).codes
    val lastEdges = Similarity.knnEdges(spark, variants.last)
    Similarity.clearKnnCache()
    assert(!Dedup.checkpointLive(lastEdges), "the k-NN clear must release its blocks")
    assert(Dedup.checkpointLive(lastCodes), "the k-NN clear must leave the ANN memo alone")
    Similarity.clearAnnCache()
    assert(!Dedup.checkpointLive(lastCodes), "the ANN clear must release the PQ codes")
    assert(Similarity.knnEdges(spark, sf) ne edges, "the first key was evicted")
  }
}
