package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf("sf0.001")).cache()
  private lazy val queries = emb.filter(col("vec_id") < 10).cache()

  test("bruteForceTopK: k results per query, ranked by descending similarity") {
    val got = Similarity.bruteForceTopK(emb, queries, 5).cache()
    assert(got.count() === 10 * 5)
    val ranks = got.groupBy("q_id").agg(collect_list("rank")).collect()
    assert(ranks.forall(_.getSeq[Int](1).sorted == Seq(1, 2, 3, 4, 5)))
    // descending similarity within each query
    val byQ = got.orderBy("q_id", "rank")
      .select("q_id", "cos_sim").as[(Long, Double)].collect().grouped(5)
    assert(byQ.forall(g => g.map(-_._2).sameElements(g.map(-_._2).sorted)))
  }

  test("dimensionStats: exact means, zero std for constant dims, min/max per dim") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.dimensionStats(df).orderBy("dim").collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Long]("n"), r.getAs[Double]("mean"),
        r.getAs[Double]("std"), r.getAs[Double]("min_v"), r.getAs[Double]("max_v")))
    assert(got.toSeq === Seq(
      (0, 2L, 1.0, 0.0, 1.0, 1.0),
      (1, 2L, 3.0, 1.0, 2.0, 4.0)))
  }

  test("powerIteration: recovers the dominant axis; exact trajectory is partition-invariant") {
    // 2-dim data with a dominant first axis: XᵀX is diagonal-ish with
    // λ1 >> λ2, so after 3 rounds the L∞-normalized vector puts the
    // full micro unit on dim 0 and a small weight on dim 1.
    val df = Seq(
      (1L, Seq(1.0f, 0.1f)), (2L, Seq(-1.0f, -0.1f)),
      (3L, Seq(0.9f, 0.0f)), (4L, Seq(-0.95f, 0.05f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.powerIteration(df, rounds = 3, dim = 2)
      .orderBy("d").as[(Long, Long, Double)].collect()
    assert(got.length === 2)
    val byDim = got.map(r => r._1 -> r._2).toMap
    assert(math.abs(byDim(0L)) === 1000000L,
      s"dominant axis holds the full L-inf unit, got $byDim")
    assert(math.abs(byDim(1L)) < 200000L,
      s"minor axis stays small, got $byDim")
    // exact integer trajectory: a different partitioning computes the
    // IDENTICAL vector (the associative-decimal-sum argument)
    val repart = Similarity.powerIteration(df.repartition(7), rounds = 3, dim = 2)
      .orderBy("d").as[(Long, Long, Double)].collect()
    assert(repart.toSeq === got.toSeq)
  }

  test("powerIteration: loud ceilings — Long dot fold, decimal accumulation, zero corpus") {
    // (a) LongType dot-fold ceiling: one component past 2^63/(dim·1e6).
    // dim=2 → ceiling ≈ 4.61e12 micro units (|e| ≈ 4.61e6).
    val overLong = Seq((1L, Seq(5.0e6f, 0.0f)))
      .toDF("vec_id", "embedding")
    val eLong = intercept[IllegalArgumentException] {
      Similarity.powerIteration(overLong, rounds = 1, dim = 2)
    }
    assert(eLong.getMessage.contains("LongType dot-product ceiling"))
    // (b) Decimal(38,0)-stage ceiling (the ADVICE medium): components
    // UNDER the Long ceiling (4e12 micro ≤ 4.61e12) but with enough
    // rows that rowCount·dim·maxAbs²·1e12 = 4·2·1.6e25·1e12 ≈ 1.28e38
    // tops 1e38. Pre-guard this was a silent decimal NULL → opaque NPE;
    // now it fails upfront with the named headroom.
    val overDec = (1L to 4L).map(i => (i, Seq(4.0e6f, 0.0f)))
      .toDF("vec_id", "embedding")
    val eDec = intercept[IllegalArgumentException] {
      Similarity.powerIteration(overDec, rounds = 1, dim = 2)
    }
    assert(eDec.getMessage.contains("decimal(38,0) accumulation headroom"))
    // ...and the SAME magnitudes with fewer rows (headroom 6.4e37 <
    // 1e38) pass both guards and produce the full L∞ unit on dim 0.
    val under = (1L to 2L).map(i => (i, Seq(4.0e6f, 0.0f)))
      .toDF("vec_id", "embedding")
    val ok = Similarity.powerIteration(under, rounds = 1, dim = 2)
      .orderBy("d").as[(Long, Long, Double)].collect()
    assert(ok.map(_._2).toSeq === Seq(1000000L, 0L))
    // (c) all-zero corpus: no dominant eigenvector — loud, not div-by-0.
    val zeros = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val eZero = intercept[IllegalArgumentException] {
      Similarity.powerIteration(zeros, rounds = 1, dim = 2)
    }
    assert(eZero.getMessage.contains("zero vector"))
    // (d) EMPTY corpus: would pass the magnitude guards (maxAbs=0,
    // rowCount=0) and then produce the silent-NULL output they exist to
    // prevent — must fail loudly instead.
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val eEmpty = intercept[IllegalArgumentException] {
      Similarity.powerIteration(empty, rounds = 1, dim = 2)
    }
    assert(eEmpty.getMessage.contains("empty corpus"))
  }

  test("quantizeInt8: values in [-127,127], dequantized roundtrip within scale/2, zero vector safe") {
    val got = Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("scale"), col("q"), col("embedding"))
      .as[(Long, Double, Array[Int], Array[Float])].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, scale, q, v) =>
      assert(q.length === v.length)
      assert(q.forall(x => x >= -127 && x <= 127))
      // round-to-nearest: |q*scale - v| <= scale/2 (+eps) per element
      q.zip(v).foreach { case (qi, vi) =>
        assert(math.abs(qi * scale - vi) <= scale / 2 + 1e-9) }
    }
    // the max-|v| element always hits ±127 exactly
    assert(got.forall { case (_, _, q, _) => q.exists(x => math.abs(x) == 127) })
    // zero vector: scale 0, all-zero q, no NaN
    val z = Similarity.quantizeInt8(
      Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
      .select("scale", "q").as[(Double, Array[Int])].head()
    assert(z._1 === 0.0 && z._2.toSeq === Seq(0, 0, 0))
  }

  test("bruteForceTopK agrees with a driver-side exact computation for one query") {
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Array[Float]].head().map(_.toDouble)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val all = emb.filter(col("vec_id") =!= 0)
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val expectTop = all
      .map { case (id, v) =>
        (id, BigDecimal(cos(q, v.map(_.toDouble))).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
    val got = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 3)
      .orderBy("rank").select("c_id").as[Long].collect()
    assert(got.sameElements(expectTop))
  }

  test("planeSigns are pinned: the LSH and projection planes keep their signs") {
    // Bit i of a plane's mask is set where component i is -1. The values
    // were taken from MurmurHash3.productHash, which caseClassHash replaced.
    def mask(p: Int): Long = Similarity.planeSigns(p, 64).zipWithIndex
      .foldLeft(0L) { case (m, (s, i)) => if (s < 0) m | (1L << i) else m }
    val pinned = Seq(
      0 -> 0xb89fc792f9c655f0L, 1 -> 0xc0473387528008abL, 2 -> 0x3cd2a686509b6756L,
      3 -> 0x2a73264c28d5ff7cL, 4 -> 0xe5e6e07ba7d5d367L, 5 -> 0x4a0f96e5ff95751bL,
      6 -> 0xa1f68f4815eed487L, 7 -> 0x4100970c85534155L, 8 -> 0x22028853e6139dbdL,
      9 -> 0xaa0eddbaebb12a26L, 10 -> 0x6342e389ec401915L, 11 -> 0x57b7c70c8c159785L,
      12 -> 0xaf53007d6d8a5d3aL, 13 -> 0x175882fdba97b26aL, 14 -> 0xb392c4f2f082f9edL,
      15 -> 0x44b95c55c3c4ce7cL,
      1000 -> 0x88451d0d472e9bfaL, 1001 -> 0xb97033fc1679a759L, 1002 -> 0xa7de7f67065f46ffL,
      1003 -> 0x273523cbcb69a0fcL, 1004 -> 0x9de52c7ff337792eL, 1005 -> 0xbabe17102eb4624fL,
      1006 -> 0x779b76b72b48c248L, 1007 -> 0x04703169ed19784fL)
    pinned.foreach { case (p, m) => assert(mask(p) === m, s"plane $p") }
    // wider domain: 64 LSH and 64 projection planes at dim 512
    val crc = new java.util.zip.CRC32
    for (p <- (0 until 64) ++ (Similarity.ProjectionPlaneOffset until Similarity.ProjectionPlaneOffset + 64);
         s <- Similarity.planeSigns(p, 512))
      crc.update(if (s < 0) 1 else 0)
    assert(crc.getValue === 3276037206L)
  }

  test("LSH recall: banded hyperplane candidates recover most true top-1 neighbors") {
    val bf = Similarity.bruteForceTopK(emb, queries, 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopK(emb, queries, 10, numPlanes = 8, numBands = 4)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = bf.count { case (q, top1) => lsh.getOrElse(q, Set.empty).contains(top1) }
    assert(hits >= 5, s"top-1 recall in approximate candidates: $hits/10")
  }

  test("bruteForceRadius: exactly the brute-force pairs at or above the threshold") {
    val tau = 0.2
    val radius = Similarity.bruteForceRadius(emb, queries, tau)
      .select("q_id", "c_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
    assert(radius.nonEmpty, "threshold chosen to keep the result nonempty")
    assert(radius.forall(_._3 >= tau), "no pair below the radius")
    // Agreement with the full scored set filtered driver-side.
    val all = Similarity.bruteForceTopK(emb, queries, Int.MaxValue)
      .select("q_id", "c_id", "cos_sim")
      .as[(Long, Long, Double)].collect()
      .filter(_._3 >= tau)
    assert(radius.toSet === all.toSet)
  }

  test("multi-probe LSH: candidate superset of single-probe, never worse top-1 recall") {
    val planes = 8; val bands = 4
    val bf = Similarity.bruteForceTopK(emb, queries, 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val single = pairs(Similarity.lshTopK(emb, queries, 1000,
      numPlanes = planes, numBands = bands))
    val multi = pairs(Similarity.lshMultiProbeTopK(emb, queries, 1000,
      numPlanes = planes, numBands = bands))
    // With k larger than any candidate set, the outputs ARE the candidate
    // sets — multi-probe must contain every single-probe candidate.
    single.foreach { case (q, cs) =>
      assert(cs.subsetOf(multi.getOrElse(q, Set.empty)),
        s"query $q lost single-probe candidates")
    }
    val hitsSingle = bf.count { case (q, t) => single.getOrElse(q, Set.empty)(t) }
    val hitsMulti = bf.count { case (q, t) => multi.getOrElse(q, Set.empty)(t) }
    assert(hitsMulti >= hitsSingle, s"recall regressed: $hitsMulti < $hitsSingle")
    assert(hitsMulti >= 7, s"top-1 recall in multi-probe candidates: $hitsMulti/10")
  }

  test("native codegen DotProduct is bit-identical to the interpreted HOF fold") {
    import graft.functions.VectorFunctions
    val pairs = emb.alias("a").crossJoin(emb.limit(20).alias("b"))
      .select(
        VectorFunctions.asDouble(col("a.embedding")).as("x"),
        VectorFunctions.asDouble(col("b.embedding")).as("y"))
      .select(
        VectorFunctions.dot(col("x"), col("y")).as("native"),
        VectorFunctions.dotHof(col("x"), col("y")).as("hof"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (n, h) => n == h },
      "codegen and interpreted dot products must agree bit-for-bit")
  }

  test("IVF: assignments cover the corpus; probes recover most true top-1s") {
    val (centroids, assign) = Similarity.ivfIndex(emb, numCells = 16)
    assert(centroids.count() === 16)
    assert(assign.count() === emb.count(), "every vector lands in exactly one cell")
    val bf = Similarity.bruteForceTopK(emb, queries, 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, queries, 10, numCells = 16, nProbe = 6)
      .select("q_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = bf.count { case (q, top1) => ivf.getOrElse(q, Set.empty).contains(top1) }
    assert(hits >= 5, s"IVF top-1 recall: $hits/10 at nProbe=6/16")
  }

  test("PQ: codes cover corpus x subspaces; ADC ranks correlate with exact; rerank beats ADC recall") {
    val cb = Similarity.pqCodebooks(emb, numSub = 16, numCodes = 32, dim = 64)
    assert(cb.count() === 16 * 32, "one codeword per (subspace, seed)")
    val codes = Similarity.pqEncode(emb, cb, numSub = 16, dim = 64).cache()
    assert(codes.count() === emb.count() * 16, "every vector gets exactly 16 codes")
    // code ids come from the 32 seeds only
    val seedIds = cb.select("code_id").distinct().as[Long].collect().toSet
    assert(seedIds.size === 32)
    assert(codes.select("code_id").distinct().as[Long].collect().toSet.subsetOf(seedIds))

    val bf = Similarity.bruteForceTopK(emb, queries, 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    def recall(df: org.apache.spark.sql.DataFrame): Int = {
      val got = df.select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      bf.count { case (q, top1) => got.getOrElse(q, Set.empty).contains(top1) }
    }
    val adcHits = recall(Similarity.pqTopK(emb, queries, 10))
    assert(adcHits >= 5, s"ADC top-1 recall: $adcHits/10")
    // rerank re-scores a 3x shortlist exactly, so its top-10 recall can
    // only see candidates ADC surfaced — but ordering quality improves:
    // the reranked top-10 recall must be at least the ADC top-10 recall
    // restricted to the same shortlist, and in practice >= it.
    val rrHits = recall(Similarity.pqRerankTopK(emb, queries, 10, kAdc = 30))
    assert(rrHits >= adcHits, s"rerank recall $rrHits < ADC recall $adcHits")
  }

  test("IVFPQ returns only IVF-surfaced candidates, ranked by ADC; recall stays useful") {
    val got = Similarity.ivfPqTopK(emb, queries, 10, numCells = 16, nProbe = 6).cache()
    val perQ = got.groupBy("q_id").count().as[(Long, Long)].collect()
    assert(perQ.nonEmpty && perQ.forall(_._2 <= 10))
    // cell pruning really bites: the composite must surface a strict
    // subset of what full-corpus ADC ranks at the same k whenever the
    // probed cells exclude part of the corpus
    val ivfCand = Similarity.ivfTopK(emb, queries, Int.MaxValue,
        numCells = 16, nProbe = 6)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    val gotPairs = got.select("q_id", "c_id").as[(Long, Long)].collect()
    assert(gotPairs.forall(ivfCand.contains),
      "every IVFPQ result must come from an IVF-probed cell")
    val bf = Similarity.bruteForceTopK(emb, queries, 1)
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val cand = gotPairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = bf.count { case (q, top1) => cand.getOrElse(q, Set.empty).contains(top1) }
    // double approximation (cell pruning + ADC) — recall floor is looser
    assert(hits >= 4, s"IVFPQ top-1 recall: $hits/10")
  }

  test("filteredTopK: every neighbor shares the query's label and equals per-label brute force") {
    val got = Similarity.filteredTopK(emb, queries, 3, filterCol = "label").cache()
    val labels = emb.select("vec_id", "label").as[(Long, Long)].collect().toMap
    val pairs = got.select("q_id", "c_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (q, c) => labels(q) == labels(c) },
      "a filtered neighbor must satisfy the predicate")
    // per query: identical to brute force over the pre-filtered corpus
    val q0 = queries.select("vec_id", "label").as[(Long, Long)].collect().head
    val restricted = emb.filter(col("label") === q0._2)
    val bf = Similarity.bruteForceTopK(restricted,
        emb.filter(col("vec_id") === q0._1), 3)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    val gotQ0 = got.filter(col("q_id") === q0._1)
      .orderBy("rank").select("c_id").as[Long].collect().toSeq
    assert(gotQ0 === bf, "filtered search = brute force over the filtered corpus")
  }

  test("filteredIvfPqTopK: label holds, candidates are IVF-probed, recall vs exact filtered") {
    val got = Similarity.filteredIvfPqTopK(emb, queries, 5,
        filterCol = "label", numCells = 16, nProbe = 6).cache()
    val labels = emb.select("vec_id", "label").as[(Long, Long)].collect().toMap
    val pairs = got.select("q_id", "c_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (q, c) => labels(q) == labels(c) },
      "every composite neighbor must satisfy the label predicate")
    // the composite's candidates are exactly the probed-cell universe
    // intersected with the label predicate — so every result must also
    // appear in the unfiltered IVF candidate set
    val ivfCand = Similarity.ivfTopK(emb, queries, Int.MaxValue,
        numCells = 16, nProbe = 6)
      .select("q_id", "c_id").as[(Long, Long)].collect().toSet
    assert(pairs.forall(ivfCand.contains),
      "every filtered IVFPQ result must come from an IVF-probed cell")
    // recall vs the exact filtered search (double approximation: cell
    // pruning + ADC), same looser floor as the unfiltered composite
    val exact = Similarity.filteredTopK(emb, queries, 1, filterCol = "label")
      .select("q_id", "c_id").as[(Long, Long)].collect().toMap
    val cand = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.count { case (q, t) => cand.getOrElse(q, Set.empty).contains(t) }
    assert(hits >= 4, s"filtered IVFPQ top-1 recall: $hits/${exact.size}")
  }

  test("PQ encode is deterministic and a seed vector's own codes are its own id") {
    val cb = Similarity.pqCodebooks(emb, numSub = 16, numCodes = 32, dim = 64)
    val codes = Similarity.pqEncode(emb, cb, numSub = 16, dim = 64)
    val again = Similarity.pqEncode(emb, cb, numSub = 16, dim = 64)
    assert(codes.except(again).isEmpty && again.except(codes).isEmpty)
    // a seed's sub-vector has L2 distance 0 to its own codeword, so the
    // argmin must pick it (any other codeword at distance 0 would mean
    // duplicate sub-vectors — tie then broken by min code id)
    val seedIds = cb.select("code_id").distinct().as[Long].collect().toSet
    val selfCodes = codes.filter(col("c_id").isin(seedIds.toSeq: _*))
      .filter(col("c_id") =!= col("code_id"))
      .join(cb.select(col("j"), col("code_id"), col("cvec")), Seq("j", "code_id"))
    // a stray self-code is legal ONLY as a genuine zero-distance tie won
    // by a lower code id: join each offender back to its OWN codeword and
    // verify the chosen one sits at round-6 L2 distance exactly 0 with a
    // smaller id — anything else is a broken argmin
    val own = cb.select(col("j").as("j2"), col("code_id").as("own_id"),
      col("cvec").as("own_cvec"))
    val badStrays = selfCodes
      .join(own, col("j") === col("j2") && col("c_id") === col("own_id"))
      .withColumn("__d2", round(
        graft.functions.VectorFunctions.dot(col("cvec"), col("cvec")) -
          lit(2.0) * graft.functions.VectorFunctions.dot(col("cvec"), col("own_cvec")) +
          graft.functions.VectorFunctions.dot(col("own_cvec"), col("own_cvec")), 6))
      .filter(col("__d2") =!= 0.0 || col("code_id") >= col("c_id"))
    assert(badStrays.count() === 0,
      "a stray self-code must be a zero-distance tie won by a lower code id")
  }

  test("assignToCentroids matches kmeans' own assignment convention exactly") {
    // the shared-arithmetic contract: assigning a corpus to the seed
    // centroids through the public helpers must be BIT-identical to
    // kmeans(iterations = 0) — a drifted copy of the round-6 cosine or
    // the cell_id tie-break would silently de-synchronize the
    // incremental-reindex pipeline from the cluster_assign oracle
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (_, viaKmeans) = Similarity.kmeans(emb, k = 8, iterations = 0)
    val viaHelper = Similarity.assignToCentroids(
      emb, Similarity.seedCentroids(emb, 8))
    val a = viaKmeans.select($"c_id", $"cell_id", $"__sim".as("sim"))
      .as[(Long, Long, Double)].collect().toSet
    val b = viaHelper.select($"vec_id", $"cell_id", $"sim")
      .as[(Long, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("kmeans: separates well-separated synthetic blobs and improves the cosine objective") {
    // three orthogonal-ish blobs in 8 dims, 20 vectors each, small noise
    val rnd = new scala.util.Random(7)
    def blob(center: Array[Double], base: Long) = (0 until 20).map { i =>
      (base + i, center.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val c1 = Array(1.0, 0, 0, 0, 0, 0, 0, 0)
    val c2 = Array(0.0, 1, 0, 0, 0, 0, 0, 0)
    val c3 = Array(0.0, 0, 1, 0, 0, 0, 0, 0)
    val df = (blob(c1, 0) ++ blob(c2, 100) ++ blob(c3, 200))
      .toDF("vec_id", "embedding")

    val (cent0, asg0) = Similarity.kmeans(df, k = 3, iterations = 0)
    val (cent, asg) = Similarity.kmeans(df, k = 3, iterations = 4)
    assert(cent.count() === 3)

    // objective: mean cosine to the assigned centroid must not degrade
    val obj0 = asg0.agg(avg(col("__sim"))).first().getDouble(0)
    val obj = asg.agg(avg(col("__sim"))).first().getDouble(0)
    assert(obj >= obj0 - 1e-9, s"objective degraded: $obj0 -> $obj")
    assert(obj > 0.99, s"well-separated blobs should be near-pure: $obj")

    // each blob lands in ONE cluster, and clusters are distinct
    val cells = asg.select(col("c_id"), col("cell_id"))
      .as[(Long, Long)].collect().toMap
    val blobCells = Seq(0L, 100L, 200L).map(b =>
      (0 until 20).map(i => cells(b + i)).toSet)
    assert(blobCells.forall(_.size === 1), s"blob split across cells: $blobCells")
    assert(blobCells.flatten.toSet.size === 3, "blobs must map to distinct cells")
  }

  test("kmeans exactMeans: centroids match avg-means within the micro-unit quantization bound") {
    // Per element the integer-means estimate differs from the true mean
    // by at most 0.5 micro-unit of per-row rounding (averaged), i.e.
    // |exact - avg| <= 5e-7 + fp noise. If a whole ASSIGNMENT flipped
    // the difference would be O(centroid spread) >> 1e-5.
    val rnd = new scala.util.Random(11)
    val df = (0 until 120).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val (ca, _) = Similarity.kmeans(df, k = 4, iterations = 2)
    val (ce, _) = Similarity.kmeans(df, k = 4, iterations = 2, exactMeans = true)
    val byId = ca.select(col("cell_id"), col("cell_vec"))
      .as[(Long, Seq[Double])].collect().toMap
    val diffs = ce.select(col("cell_id"), col("cell_vec"))
      .as[(Long, Seq[Double])].collect()
      .flatMap { case (id, v) => v.zip(byId(id)).map { case (a, b) => math.abs(a - b) } }
    assert(diffs.max < 1e-5, s"exactMeans drifted from avg means: max diff ${diffs.max}")
  }

  test("kmeans: k never shrinks — empty cells keep their previous centroid") {
    // 40 near-identical vectors: most seeds capture no points after one
    // assignment pass, but all 5 requested centroids must survive.
    val vecs = (0 until 40).map(i => (i.toLong,
      Array(1.0f, 0.01f * (i % 3), 0f, 0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val (centroids, assign) = Similarity.kmeans(df, k = 5, iterations = 3)
    assert(centroids.count() === 5)
    assert(assign.count() === 40)
  }

  test("semanticDedup keeps the most-central member of every epsilon-neighborhood") {
    // survivors must never contain BOTH sides of an intra-cluster pair
    // at >= eps, and every removed doc must have a more-central
    // epsilon-neighbor (dominance is (cent_sim desc, id asc))
    val eps = 0.3
    val surv = Similarity.semanticDedup(emb, k = 4, eps = eps).cache()
    val (_, asgRaw) = Similarity.kmeans(emb, k = 4, iterations = 0)
    val asg = asgRaw.select(col("c_id"), col("cell_id"), col("__sim").as("cent_sim"))
    val blocked = emb.join(asg.withColumnRenamed("c_id", "vec_id"), "vec_id")
    val pairs = Similarity.embeddingNearDupPairs(blocked, "cell_id", eps)
    val keptIds = surv.select("vec_id").as[Long].collect().toSet
    val badPair = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => keptIds(a) && keptIds(b) }
    assert(badPair.isEmpty, s"both sides of ${badPair.take(3).toSeq} survived")
    val removed = asg.select("c_id").as[Long].collect().toSet -- keptIds
    val sims = asg.select(col("c_id"), col("cent_sim")).as[(Long, Double)].collect().toMap
    val neigh = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
    assert(removed.forall { r =>
      neigh.getOrElse(r, Array.empty).exists { case (_, q) =>
        sims(q) > sims(r) || (sims(q) == sims(r) && q < r) }
    }, "a removed doc has no dominating epsilon-neighbor")
  }

  test("embeddingNearDupPairs only pairs within a block and respects the threshold") {
    val pairs = Similarity.embeddingNearDupPairs(emb, "label", 0.3).cache()
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    val rows = pairs.select("id_a", "id_b", "cos_sim").as[(Long, Long, Double)].collect()
    assert(rows.forall { case (a, b, c) => labels(a) == labels(b) && c >= 0.3 && a < b })
  }

  test("embeddingNearDupPairs: oversized blocks go through LSH sub-blocking, not all-pairs") {
    // Force every fixture block over the cap: the LSH path must (1) emit
    // only a subset of the exact pairs, (2) still find all identical /
    // extremely-close pairs (cos≈1 collides in every band), (3) never
    // invent a pair the exact path would not score.
    val exact = Similarity.embeddingNearDupPairs(emb, "label", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupPairs(emb, "label", 0.3, maxExactBlock = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH path invented pairs: ${lsh -- exact}")
    val nearIdentical = Similarity.embeddingNearDupPairs(emb, "label", 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(nearIdentical.subsetOf(lsh),
      s"cos≥0.98 pairs must survive banding: missing ${nearIdentical -- lsh}")
  }

  test("randomProjection: deterministic, right shape, JL norm preservation in expectation") {
    val p1 = Similarity.randomProjection(emb, outDim = 8)
    assert(p1.columns.toSeq === "vec_id" +: (0 until 8).map(k => f"p$k%02d"))
    // deterministic: the planes are constant-folded, two runs agree
    assert(p1.except(Similarity.randomProjection(emb, outDim = 8)).isEmpty)
    // E[||p||^2] = ||v||^2 under ±1/√k projections — the fleet-wide
    // mean ratio should sit near 1 (loose band: 64→8 is a hard cut)
    val projSq = p1.select(col("vec_id"),
      (0 until 8).map(k => col(f"p$k%02d") * col(f"p$k%02d")).reduce(_ + _).as("p2"))
    val origSq = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.dot(
        graft.functions.VectorFunctions.asDouble(col("embedding")),
        graft.functions.VectorFunctions.asDouble(col("embedding"))).as("v2"))
    val ratio = projSq.join(origSq, "vec_id")
      .agg(avg(col("p2") / col("v2"))).head().getDouble(0)
    assert(ratio > 0.5 && ratio < 2.0, s"mean norm ratio $ratio out of band")
    intercept[IllegalArgumentException] {
      Similarity.randomProjection(emb, outDim = 100)
    }
  }

  test("RRF fusion semantics: candidate union, score formula, consensus outranks") {
    import org.apache.spark.sql.expressions.Window
    val qs = emb.filter(col("vec_id") < 5)
    val lsh = Similarity.lshTopK(emb, qs, 10)
      .select(col("q_id"), col("c_id"), col("rank").as("r_lsh"))
    val pq = Similarity.pqTopK(emb, qs, 10)
      .select(col("q_id"), col("c_id"), col("rank").as("r_pq"))
    val fused = lsh.join(pq, Seq("q_id", "c_id"), "full_outer")
      .select(col("q_id"), col("c_id"),
        round(coalesce(lit(1.0) / (col("r_lsh") + 60), lit(0.0)) +
              coalesce(lit(1.0) / (col("r_pq") + 60), lit(0.0)), 6).as("rrf"),
        col("r_lsh"), col("r_pq"))
    val rows = fused.collect()
    // every fused candidate came from at least one system
    assert(rows.forall(r => !r.isNullAt(3) || !r.isNullAt(4)))
    // a candidate in BOTH systems' top-10 outranks any single-system one:
    // min two-system score 2/70 > max one-system score 1/61
    val both = rows.filter(r => !r.isNullAt(3) && !r.isNullAt(4)).map(_.getDouble(2))
    val one = rows.filter(r => r.isNullAt(3) || r.isNullAt(4)).map(_.getDouble(2))
    if (both.nonEmpty && one.nonEmpty)
      assert(both.min > one.max, "consensus candidates must dominate")
    // scores bounded by the k=10 window: [1/70, 2/61]
    assert(rows.forall { r =>
      val s = r.getDouble(2); s >= 1.0 / 70 - 1e-9 && s <= 2.0 / 61 + 1e-9
    })
  }

  test("silhouette: every point counted once, scores in [-1, 1], means consistent") {
    val got = Similarity.silhouette(emb, k = 8).cache()
    // every corpus vector lands in exactly one cluster row
    assert(got.agg(sum("n")).first().getLong(0) === emb.count())
    val rows = got.collect()
    // s = (s1-s2)/(1-s2) with s1 in [s2, 1] and s2 < 1 ⇒ s in [0, 1];
    // cosine can make s2 negative but s1 >= s2 keeps s >= 0 here, and
    // min <= mean <= max must hold per cluster
    rows.foreach { r =>
      val (mean, mn, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn >= -1.0 - 1e-9 && mx <= 1.0 + 1e-9, s"silhouette out of range: $r")
      assert(mn <= mean + 1e-9 && mean <= mx + 1e-9, s"mean outside min/max: $r")
    }
    // k clusters at most, all cells from the seed prefix
    assert(rows.length <= 8)
  }

  test("maxSimTopK: k ranked results; score matches a driver-side MaxSim; dominates cosine") {
    val got = Similarity.maxSimTopK(emb, queries, 5).cache()
    assert(got.count() === 10 * 5)
    val ranks = got.groupBy("q_id").agg(collect_list("rank")).collect()
    assert(ranks.forall(_.getSeq[Int](1).sorted == Seq(1, 2, 3, 4, 5)))

    // driver-side recomputation of one scored pair
    val vecs = emb.filter(col("vec_id") < 60)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def maxSim(q: Array[Double], c: Array[Double]): Double = {
      val chunks = (0 until 8).map(i => (0 until 8).map(j => i * 8 + j))
      val qn = math.sqrt(q.map(x => x * x).sum)
      val cn = math.sqrt(c.map(x => x * x).sum)
      chunks.map { qi =>
        chunks.map(cj => qi.zip(cj).map { case (a, b) => q(a) * c(b) }.sum).max
      }.sum / (qn * cn)
    }
    val sample = got.filter(col("q_id") === 0 && col("c_id") < 60)
      .select("c_id", "maxsim").collect()
    sample.foreach { r =>
      val expect = maxSim(vecs(0L), vecs(r.getLong(0)))
      assert(math.abs(r.getDouble(1) - expect) < 1e-4,
        s"maxsim mismatch for c=${r.getLong(0)}: got ${r.getDouble(1)}, want $expect")
    }

    // MaxSim's best-chunk alignment is >= the diagonal-only alignment,
    // which for i==j chunk pairing sums to exactly the full dot product:
    // score >= cosine for every pair (both normalized by the same norms).
    val cosTop = Similarity.bruteForceTopK(emb, queries.limit(3), 50)
      .select(col("q_id"), col("c_id"), col("cos_sim"))
    val joint = Similarity.maxSimTopK(emb, queries.limit(3), 50)
      .join(cosTop, Seq("q_id", "c_id"))
      .select("maxsim", "cos_sim").as[(Double, Double)].collect()
    assert(joint.nonEmpty)
    assert(joint.forall { case (m, c) => m >= c - 1e-6 },
      "MaxSim must dominate plain cosine on shared pairs")
  }

  test("shared top-k ranking: an exact cosine tie ranks the lower c_id first, and k keeps it") {
    // v and 2v have the identical cosine to any query: doubling is exact
    // in the dot and in the norm. q is v nudged off its axis; -v is far.
    val v = (0 until 64).map(i => ((i * 37) % 11 - 5).toFloat)
    val q = v.updated(0, v(0) + 0.5f)
    val twice = v.map(_ * 2)
    val qs = Seq((0L, q, 0L)).toDF("vec_id", "embedding", "label")
    // both row orders, so no input order can stand in for the tie-break
    val orders = Seq(
      Seq(0L -> q, 5L -> v, 3L -> twice, 1L -> v.map(-_)),
      Seq(0L -> q, 3L -> twice, 5L -> v, 1L -> v.map(-_)))
    val ops: Seq[(String, (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame)] =
      Seq(
        "bruteForceTopK" -> ((c, k) => Similarity.bruteForceTopK(c, qs, k)),
        "filteredTopK" -> ((c, k) => Similarity.filteredTopK(c, qs, k)),
        "lshTopK" -> ((c, k) => Similarity.lshTopK(c, qs, k)),
        "pqRerankTopK" -> ((c, k) => Similarity.pqRerankTopK(c, qs, k, kAdc = 3)))
    for (rows <- orders; (name, op) <- ops) {
      val corpus = rows.map { case (id, e) => (id, e, 0L) }
        .toDF("vec_id", "embedding", "label")
      val two = op(corpus, 2).orderBy("rank")
        .select("c_id", "cos_sim").as[(Long, Double)].collect().toSeq
      assert(two.map(_._1) === Seq(3L, 5L), s"$name, rows ${rows.map(_._1)}")
      assert(two(0)._2 === two(1)._2, s"$name: the two cosines must tie")
      val one = op(corpus, 1).select("c_id").as[Long].collect().toSeq
      assert(one === Seq(3L), s"$name at k = 1, rows ${rows.map(_._1)}")
    }
  }
}
