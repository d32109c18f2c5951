package graft

import graft.functions.VectorFunctions
import graft.operators.Ann
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {

  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  private lazy val probes = corpus.where(col("vec_id") === 0)
    .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))

  test("brute-force top-k ranks by cosine desc, excludes self") {
    val res = Ann.bruteForceTopK(corpus, probes, k = 3)
      .orderBy("rank").collect()
    assert(res.map(_.getLong(2)).toSeq == Seq(1L, 2L, 3L)) // by cosine to e0
    assert(res.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L)) // ranks 1..3
    assert(!res.exists(_.getLong(2) == 0L))
  }

  test("cosine values are in [-1, 1] and ordered") {
    val cs = Ann.bruteForceTopK(corpus, probes, k = 4)
      .orderBy("rank").select("cosine").as[Double].collect()
    assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
    assert(cs.sameElements(cs.sorted.reverse))
  }

  test("lsh top-k returns a subset of brute-force candidates, correctly ranked") {
    val bf = Ann.bruteForceTopK(corpus, probes, k = 4)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val lsh = Ann.lshTopK(corpus, probes, k = 4, nPlanes = 2, nTables = 2, dim = 4)
      .orderBy("rank").collect()
    // every LSH result appears in brute force with the identical cosine
    for (r <- lsh) assert(bf(r.getLong(2)) == r.getDouble(3))
    // ranks are dense from 1
    assert(lsh.map(_.getLong(1)).toSeq == (1L to lsh.length).toSeq)
  }

  test("ivf top-k: full-coverage probe set equals brute force") {
    // with nCenters = corpus size and nProbe = nCenters, IVF degenerates
    // to exact search — results must equal brute force
    val bf = Ann.bruteForceTopK(corpus, probes, k = 4)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ivf = Ann.ivfTopK(corpus, probes, k = 4, nCenters = 5, nProbe = 5)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ivf.toSeq == bf.toSeq)
  }

  test("ivf top-k: restricted probes return a correctly-ranked subset") {
    val bf = Ann.bruteForceTopK(corpus, probes, k = 4)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap
    val ivf = Ann.ivfTopK(corpus, probes, k = 4, nCenters = 2, nProbe = 1)
      .orderBy("rank").collect()
    for (r <- ivf) assert(bf(r.getLong(2)) == r.getDouble(3))
    assert(ivf.map(_.getLong(1)).toSeq == (1L to ivf.length).toSeq)
  }

  test("trained quantizer balances inverted lists better than sampled centroids") {
    // Two tight clusters; the first-N init lands BOTH seed centroids in
    // cluster A — the worst case for sampled centroids. Two k-means
    // iterations must migrate one centroid toward cluster B.
    val skewed = (
      (0 until 10).map(i => (i.toLong, Array(1.0f, 0.01f * i, 0.0f, 0.0f))) ++
      (10 until 20).map(i => (i.toLong, Array(0.01f * (i - 10), 1.0f, 0.0f, 0.0f)))
    ).toDF("vec_id", "embedding")
    val vecs = skewed.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def maxListSize(cents: Seq[(Long, Seq[Double])]): Int = {
      val cn = cents.map { case (cid, cv) =>
        (cid, cv.toArray, math.sqrt(dot(cv.toArray, cv.toArray))) }
      vecs.map { case (_, v) =>
        val vn = math.sqrt(dot(v, v))
        cn.maxBy { case (cid, cv, n) => (dot(v, cv) / (vn * n), -cid) }._1
      }.groupBy(identity).values.map(_.length).max
    }
    val sampled = vecs.take(2).map { case (id, v) => (id, v.toSeq) }.toSeq
    val trained = Ann.trainCentroids(skewed, nCenters = 2, sampleN = 20, iters = 2)
    assert(maxListSize(trained) < maxListSize(sampled))
    assert(maxListSize(trained) == 10) // perfectly balanced on this fixture
    // deterministic: retraining yields identical centroids
    assert(trained == Ann.trainCentroids(skewed, nCenters = 2, sampleN = 20, iters = 2))
    // full-coverage IVF with a trained quantizer still equals brute force
    val p = skewed.where(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val bf = Ann.bruteForceTopK(skewed, p, k = 5)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    val ivf = Ann.ivfTopK(skewed, p, k = 5, nCenters = 2, nProbe = 2,
        trainIters = 2, trainSample = 20)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(ivf.toSeq == bf.toSeq)
  }

  test("hyperplanes are deterministic") {
    val h1 = VectorFunctions.hyperplane(3, 8)
    val h2 = VectorFunctions.hyperplane(3, 8)
    assert(h1 == h2)
    assert(h1.forall(v => v >= -0.5 && v < 0.5))
    assert(VectorFunctions.hyperplane(4, 8) != h1)
  }

  // A richer corpus for PQ: 64 vectors in 8 dims, deterministic values.
  private lazy val pqCorpus = {
    val rows = (0 until 64).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 13 + d * 7) % 31) - 15) / 15.0f))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pq: codebooks deterministic; codes in range; identical vectors share codes") {
    val cb = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    val cb2 = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    assert(cb == cb2)
    assert(cb.length == 4 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 2)))
    val withDup = pqCorpus.unionAll(
      pqCorpus.where(col("vec_id") === 5L)
        .select(lit(100L).as("vec_id"), col("embedding")))
    val codes = Ann.pqEncode(withDup, cb, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(_.forall(c => c >= 0 && c < 8)))
    assert(codes(100L) == codes(5L))
  }

  test("pq ADC: an exact-duplicate probe always sits at the ADC minimum") {
    // Provable: ADC(p, v) = p's own quantization error when p == v, and
    // every other vector's ADC is a sum of >= per-subspace minima.
    val cb = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    val dupProbes = pqCorpus.where(col("vec_id") === 17L)
      .select(lit(999L).as("probe_id"), col("embedding").as("probe_vec"))
    val res = Ann.pqTopK(pqCorpus, dupProbes, cb, k = 64, dim = 8)
      .orderBy("rank").collect()
    val byId = res.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(byId(17L) == res.map(_.getDouble(3)).min)
    // ranks are dense 1..n and distances nondecreasing
    assert(res.map(_.getLong(1)).toSeq == (1L to res.length))
    val ds = res.map(_.getDouble(3))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("pq rerank: exact distances, subset of the ADC candidate pool") {
    val cb = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val pool = Ann.pqTopK(pqCorpus, ps, cb, k = 20, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Ann.pqTopKReranked(pqCorpus, ps, cb, k = 5, rerank = 20, dim = 8)
      .orderBy("probe_id", "rank").collect()
    // every reranked hit came from the ADC pool, and per-probe exact
    // distances are nondecreasing in rank
    assert(rr.forall(r => pool.contains((r.getLong(0), r.getLong(2)))))
    rr.groupBy(_.getLong(0)).values.foreach { rows =>
      val ds = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("ivf+pq: same ADC scores as the unrestricted scan, on a restricted pool") {
    val cb = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val full = Ann.pqTopK(pqCorpus, ps, cb, k = 64, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivfpq = Ann.ivfPqTopK(pqCorpus, ps, cb, k = 10, nCenters = 8,
      nProbe = 2, trainIters = 2, trainSample = 64, dim = 8)
      .orderBy("probe_id", "rank").collect()
    assert(ivfpq.nonEmpty)
    // IVF restricts WHICH vectors are scanned but never changes a scanned
    // vector's ADC distance
    ivfpq.foreach { r =>
      assert(full((r.getLong(0), r.getLong(2))) == r.getDouble(3))
    }
    // per-probe: ranks dense from 1, distances nondecreasing
    ivfpq.groupBy(_.getLong(0)).values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      val ds = sorted.map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("residual ivf+pq: deterministic, duplicate probe at the ADC minimum") {
    val cents = Ann.trainCentroids(pqCorpus, nCenters = 8, sampleN = 64, iters = 2)
    val cb = Ann.trainPqCodebooksResidual(pqCorpus, cents, m = 4, nCodes = 8,
      sampleN = 64, iters = 2, dim = 8)
    // deterministic: retraining yields identical residual codebooks
    assert(cb == Ann.trainPqCodebooksResidual(pqCorpus, cents, m = 4, nCodes = 8,
      sampleN = 64, iters = 2, dim = 8))
    assert(cb.length == 4 && cb.forall(_.length == 8) && cb.forall(_.forall(_.length == 2)))
    // nProbe = 1: the probe scans exactly its own list. A probe identical
    // to corpus vector 17 shares its residual, so 17's codes minimize
    // every per-subspace lookup and 17 sits at the ADC minimum.
    val dupProbes = pqCorpus.where(col("vec_id") === 17L)
      .select(lit(999L).as("probe_id"), col("embedding").as("probe_vec"))
    val res = Ann.ivfPqResidualTopK(pqCorpus, dupProbes, cents, cb, k = 64,
      nProbe = 1, dim = 8).orderBy("rank").collect()
    assert(res.nonEmpty)
    val byId = res.map(r => r.getLong(2) -> r.getDouble(3)).toMap
    assert(byId.contains(17L) && byId(17L) == res.map(_.getDouble(3)).min)
    // ranks dense from 1, distances nondecreasing
    assert(res.map(_.getLong(1)).toSeq == (1L to res.length))
    val ds = res.map(_.getDouble(3))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("residual ivf+pq: candidate pool is the probed coarse lists") {
    // The residual variant must scan exactly the same candidate set as the
    // non-residual IVF with the same coarse quantizer — residual encoding
    // changes distances, never WHICH vectors a probe reads.
    val cents = Ann.trainCentroids(pqCorpus, nCenters = 8, sampleN = 64, iters = 2)
    val cb = Ann.trainPqCodebooksResidual(pqCorpus, cents, m = 4, nCodes = 8,
      sampleN = 64, iters = 2, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val resPool = Ann.ivfPqResidualTopK(pqCorpus, ps, cents, cb, k = 64,
      nProbe = 2, dim = 8)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfPool = Ann.ivfTopK(pqCorpus, ps, k = 64, nCenters = 8, nProbe = 2,
      trainIters = 2, trainSample = 64)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resPool == ivfPool)
  }

  test("sq8: ranges cover the sample; dequantization error bounded by half a cell") {
    val rng = Ann.trainSqRanges(pqCorpus, sampleN = 64, dim = 8)
    val (mins, maxs) = rng
    assert(mins.length == 8 && maxs.length == 8)
    assert(mins.zip(maxs).forall { case (lo, hi) => lo <= hi })
    // An in-range duplicate probe's distance to itself is pure
    // quantization error: at most 8 dims x (cell/2)^2.
    val dupProbes = pqCorpus.where(col("vec_id") === 17L)
      .select(lit(999L).as("probe_id"), col("embedding").as("probe_vec"))
    val res = Ann.sqTopK(pqCorpus, dupProbes, rng, k = 64).orderBy("rank").collect()
    val maxErr = mins.zip(maxs)
      .map { case (lo, hi) => (hi - lo) / 255.0 / 2.0 }
      .map(e => e * e).sum
    val selfDist = res.find(_.getLong(2) == 17L).get.getDouble(3)
    assert(selfDist <= maxErr + 1e-9, s"self distance $selfDist > bound $maxErr")
    // ranks dense, distances nondecreasing
    assert(res.map(_.getLong(1)).toSeq == (1L to res.length))
    val ds = res.map(_.getDouble(3))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("sq8 ranking approximates exact L2 ranking at byte precision") {
    // With the full corpus as sample, every vector is in range, so the
    // 8-bit grid distorts each dimension by < cell/2 and the top-10 of
    // the dequantized scan should essentially match the exact scan.
    val rng = Ann.trainSqRanges(pqCorpus, sampleN = 64, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val sq = Ann.sqTopK(pqCorpus, ps, rng, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact L2 top-10 via the PQ rerank path with rerank = corpus size
    // is overkill; brute-force cosine differs from L2 on unnormalized
    // vectors, so compute exact L2 directly from the collected corpus.
    val vecs = pqCorpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = (0L to 1L).flatMap { p =>
      vecs.keys.filter(_ != p).toSeq
        .sortBy(n => (l2(vecs(p), vecs(n)), n)).take(10).map(p -> _)
    }.toSet
    val overlap = sq.intersect(exact).size.toDouble / exact.size
    assert(overlap >= 0.8, s"sq8 top-10 overlap with exact L2 only $overlap")
  }

  test("ivf+sq: same SQ distances as the unrestricted scan, on a restricted pool") {
    val rng = Ann.trainSqRanges(pqCorpus, sampleN = 64, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val full = Ann.sqTopK(pqCorpus, ps, rng, k = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val ivf = Ann.ivfSqTopK(pqCorpus, ps, rng, k = 64, nCenters = 4,
      nProbe = 2, trainIters = 1, trainSample = 64).collect()
    assert(ivf.nonEmpty)
    // composition changes WHICH vectors are scanned, never their score
    ivf.foreach { r =>
      assert(math.abs(full((r.getLong(0), r.getLong(2))) - r.getDouble(3)) < 1e-9,
        s"probe ${r.getLong(0)} neighbor ${r.getLong(2)}")
    }
    assert(ivf.length <= full.size)
  }

  test("zero-norm vectors train and assign without crashing (index-0 tie-break)") {
    // A zero vector yields NaN cosines against every centroid; the driver
    // assignment and the SQL expression both resolve it to index 0, so
    // training can't crash and both engines agree on the degenerate edge.
    import spark.implicits._
    val withZero = (
      Seq((0L, Array.fill(4)(0.0f))) ++
      (1 until 12).map(i => (i.toLong, Array.tabulate(4)(d => (i + d).toFloat)))
    ).toDF("vec_id", "embedding")
    val cents = Ann.trainCentroids(withZero, nCenters = 3, sampleN = 12, iters = 2)
    assert(cents.length == 3)
    // retraining is still deterministic with the degenerate vector present
    assert(cents == Ann.trainCentroids(withZero, nCenters = 3, sampleN = 12, iters = 2))
    val cbr = Ann.trainPqCodebooksResidual(withZero, cents, m = 2, nCodes = 4,
      sampleN = 12, iters = 2, dim = 4)
    assert(cbr.length == 2)
    // the full IVF path still answers (zero vector lands in SOME list)
    val p = withZero.where(col("vec_id") === 1L)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val lists = Ann.ivfListSizes(withZero, nCenters = 3, trainIters = 2,
      trainSample = 12)
    assert(lists.agg(sum("n")).collect()(0).getLong(0) == 12L)
    assert(Ann.ivfTopK(withZero, p, k = 5, nCenters = 3, nProbe = 3,
      trainIters = 2, trainSample = 12).count() > 0)
  }

  test("pq ADC recall is reasonable on the structured corpus") {
    val cb = Ann.trainPqCodebooks(pqCorpus, m = 4, nCodes = 8, sampleN = 64,
      iters = 2, dim = 8)
    val ps = pqCorpus.where(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    // PQ ranks by L2 ADC; compare against exact L2 via brute force on
    // normalized... simpler: top-10 overlap vs exact squared-L2 ranking
    import org.apache.spark.sql.expressions.Window
    val c = pqCorpus.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("cv"))
    val p = ps.select(col("probe_id"),
      graft.functions.VectorFunctions.toDouble(col("probe_vec")).as("pv"))
    val exact = c.crossJoin(p).where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("d", aggregate(zip_with(col("pv"), col("cv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("d").asc, col("neighbor_id").asc)))
      .where(col("rank") <= 10)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.pqTopK(pqCorpus, ps, cb, k = 10, dim = 8)
      .select("probe_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 unexpectedly low: $recall")
  }

  test("signProject: deterministic matrix, exact fixed-order fold, shuffle-free plan") {
    // the ±1 matrix is a pure function of (j, i) — same values every call
    val signs = (0 until 4).map(i => Ann.projSign(0, i))
    assert(signs == (0 until 4).map(i => Ann.projSign(0, i)))
    assert(signs.forall(s => s == 1.0 || s == -1.0))
    // hand-fold a tiny vector: proj_j = ((0 + x0*s0) + x1*s1) + x2*s2
    val vec = Array(0.5f, -1.25f, 2.0f)
    val embs = Seq((7L, vec)).toDF("vec_id", "embedding")
    val out = Ann.signProject(embs, outDim = 2).orderBy("dim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (0 until 2).map { j =>
      val raw = vec.zipWithIndex.foldLeft(0.0) { case (acc, (x, i)) =>
        acc + x.toDouble * Ann.projSign(j, i)
      }
      (7L, j.toLong, math.rint(raw * 1e6) / 1e6)
    }
    assert(out.toSeq == expected)
    // distinct output dims use distinct sign rows (not a copied row)
    val allSame = (0 until 64).forall(i => Ann.projSign(0, i) == Ann.projSign(1, i))
    assert(!allSame)
    // scale shape: one narrow scan — no exchange, no join anywhere
    val plan = Ann.signProject(embs, outDim = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // null / wrong-dimension vectors are DROPPED, never null-projected
    // (a first-row dim peek silently null-projected the whole corpus
    // when row 1 was null — review-caught); the matrix dim is the max
    val mixed = Seq((1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(1.0f)), (3L, vecOf3)).toDF("vec_id", "embedding")
    val kept = Ann.signProject(mixed, outDim = 2)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(kept == Set(3L))
  }
  private val vecOf3 = Array(0.5f, -1.25f, 2.0f)

  test("signProjectVec: row-for-row the long format, built shuffle-free") {
    val embs = Seq((1L, vecOf3), (2L, Array(2.0f, 0.0f, -3.5f)))
      .toDF("vec_id", "embedding")
    // parity: vec(dim j) == long-format (dim=j).proj, float-cast
    val long = Ann.signProject(embs, outDim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vecs = Ann.signProjectVec(embs, outDim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    for (id <- Seq(1L, 2L); j <- 0 until 4)
      assert(vecs(id)(j) == long((id, j.toLong)).toFloat, s"id=$id j=$j")
    // the vector surface adds NO exchange over the long one (no pivot)
    val plan = Ann.signProjectVec(embs, outDim = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    // and it composes with semDedup directly (same column names)
    val out = graft.operators.Dedup.semDedup(
      Ann.signProjectVec(embs, outDim = 4), threshold = 0.9, nCenters = 2)
    assert(out.count() == 2)
  }

  test("signProject downstream: exact duplicates survive projection, distinct vectors separate") {
    // the SemDeDup-feed guarantee: identical vectors project to
    // identical low-dim points (the projection is a pure function), so
    // an exact-dup pass on the 8-dim output finds exactly the planted
    // dups — at 1/8 the vector bytes through every downstream shuffle
    def vec(seed: Int): Array[Float] =
      // % 101 (prime > 20 seeds x 31 steps apart) — a small modulus made
      // vec(s) == vec(s+13), caught by this spec's first draft
      Array.tabulate(16)(i => ((seed * 31 + i * 7) % 101 - 50) / 25.0f)
    val embs = ((0 until 20).map(i => (i.toLong, vec(i))) ++
      Seq((100L, vec(3)), (101L, vec(7)))) // planted exact dups of 3 and 7
      .toDF("vec_id", "embedding")
    val proj = Ann.signProject(embs, outDim = 8)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("proj")))).as("p"))
    val pairs = proj.as("a").join(proj.as("b"),
        col("a.p") === col("b.p") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 100L), (7L, 101L)))
  }

  test("streaming ANN serving: probes split across micro-batches equal the batch rows") {
    // the p134 shape under FORCED multi-batch arrival
    // (maxFilesPerTrigger=1): each probe's top-k depends only on its
    // own row plus the static published index, so HOWEVER the stream
    // batches, the union must equal the batch ivfTopK rows exactly
    import org.apache.spark.sql.streaming.Trigger
    val many = Seq.tabulate(24)(i =>
      (i.toLong, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val ps = many.where(col("vec_id") < 6)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val root = java.nio.file.Files.createTempDirectory("test-ann-stream").toString
    val cents = Ann.trainCentroids(many, nCenters = 4, sampleN = 24, iters = 2)
    Ann.ivfIndex(many, cents).write.parquet(s"$root/index")
    val index = spark.read.parquet(s"$root/index")
    ps.repartition(3).write.parquet(s"$root/probes") // 3 files -> 3 batches
    val stream = spark.readStream.schema(ps.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/probes")
    val q = stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Ann.ivfProbe(index, cents, b, k = 5, nProbe = 2)
          .write.mode("append").parquet(s"$root/served")
        ()
      }.start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$root/served")
      .collect().map(_.toSeq).toSet
    val batch = Ann.ivfTopK(many, ps, k = 5, nCenters = 4, nProbe = 2,
      trainIters = 2, trainSample = 24)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // genuinely multi-batch: served output came from >1 append job
    assert(spark.read.parquet(s"$root/served").inputFiles.length > 1)
  }
}
