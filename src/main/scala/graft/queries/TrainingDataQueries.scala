package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Graph, Layout, Multimodal, Sampling, Similarity, Sketches, Spread, Sweep, TextAnalysis, Upsert}
import graft.plans.ShingleHashes
import graft.sources.Tables

/** Graded queries for the LLM-training-data operators (dedup, similarity
  * search, text analysis, multimodal) over the `documents` / `embeddings`
  * fixtures. Every graded query has a DuckDB oracle: the operator math
  * is engine-portable by construction (md5 hashing, exact counting,
  * round-6 sequential double folds, constant-folded hyperplanes).
  *
  * Thresholds are calibrated to the fixtures: the generator plants
  * near-dup documents at shingle-Jaccard ≥ 0.9 (everything else ≈ 0) and
  * embedding pairs reach cosine ≈ 0.5 within a label.
  *
  * Even the "approximate" ANN paths are fully deterministic (hyperplane
  * signs and IVF centroid choice are pure functions of the data), so
  * they get exact DuckDB oracles too — the oracle SQL is GENERATED from
  * the same Scala constants the operators fold into their plans.
  */
object TrainingDataQueries {

  private val stopList = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")

  /** Count-Min probe set: a mix of genuinely-frequent fixture vocabulary
    * (stress: large counts must not undercount) and stopwords that may
    * or may not occur (absent candidates drop out identically in both
    * engines). Sorted so the Spark UDAF and the generated SQL literal
    * agree on iteration order. */
  private val countMinCandidates: Seq[String] = Seq(
    "join", "hash", "row", "batch", "scan", "filter", "window", "spark",
    "customer", "column", "slow", "key", "the", "a", "of", "table").sorted

  // DuckDB fragments mirrored by the Spark operators.
  /** RBO depth weights p^(d−1) (p = 0.9) as one shared CASE of 17-digit
    * double literals — both engines parse the identical bit pattern, so
    * no libm pow() divergence can enter the graded sum. */
  private def rboWeightCase(dCol: String): String =
    (1 to 10).map { d =>
      val w = math.pow(0.9, d - 1)
      f"WHEN $dCol = $d THEN $w%.17g"
    }.mkString("CASE ", " ", " ELSE 0.0 END")

  /** DuckDB body of [[linkGraph]], for a CTE: (src, dst) over
    * `documents`, with the node count as a scalar subquery. */
  private[queries] val linkGraphSql: String =
    """SELECT doc_id AS src,
      |        (doc_id * 7 + k * 13) % (SELECT count(*) FROM documents) AS dst
      |      FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) ks""".stripMargin

  /** Shared label-propagation CTE chain (synthetic 40-ring graph, 3
    * rounds) — consumed by graph_label_prop AND graph_modularity so both
    * grade the identical communities. */
  private val labelPropCtes: String = {
    val rounds = (1 to 3).map { r =>
      s"""v$r AS (SELECT e.dst AS id, l.label, count(*) AS cnt
         |  FROM e JOIN l${r - 1} l ON e.src = l.id GROUP BY 1, 2),
         |p$r AS (SELECT id, label, row_number() OVER
         |          (PARTITION BY id ORDER BY cnt DESC, label) AS rn
         |        FROM v$r),
         |l$r AS (SELECT l.id, coalesce(p.label, l.label) AS label
         |        FROM l${r - 1} l LEFT JOIN
         |          (SELECT id, label FROM p$r WHERE rn = 1) p USING (id))"""
    }.mkString(",\n")
    s"""d AS (SELECT doc_id AS src,
       |             (doc_id // 40) * 40 + (doc_id % 40 + k) % 40 AS dst
       |           FROM documents CROSS JOIN (SELECT unnest([1, 2]) AS k) ks),
       |e AS (SELECT src, dst FROM
       |        (SELECT src, dst FROM d UNION SELECT dst, src FROM d)
       |      WHERE src <> dst),
       |nodes AS (SELECT src AS id FROM d UNION SELECT dst FROM d),
       |l0 AS (SELECT id, id AS label FROM nodes),
       |$rounds""".stripMargin
  }

  /** Shared HyperBall replay (graph_hyperball AND
    * graph_effective_diameter grade the identical register evolution):
    * per-node registers of {self} via the house hex-string rho algebra,
    * 3 unrolled rounds of max-merge along out-edges, then each round's
    * closed-form finalize — missing buckets contribute
    * (256−present)·2^60 and v0 = 256−present, so no 256-bucket spine is
    * materialized. The estimate expression repeats the Spark literal
    * sequence exactly; per-node floor(est·1e6) happens BEFORE the
    * total, which is an associative integer sum (HUGEINT here, BIGINT
    * in Spark — cast for the dtype match). Exposes `pn0`–`pn3` =
    * (id, est_micro) per round (graph_closeness joins these) and
    * `nb` = (t, n_nodes, sum_ball_micro), one row per round. */
  private val hyperballCtes: String = {
    val merges = (1 to 3).map { t =>
      s"""s$t AS (SELECT id, bucket, max(mreg) AS mreg FROM (
         |        SELECT d.src AS id, s.bucket, s.mreg
         |        FROM d JOIN s${t - 1} s ON s.id = d.dst
         |        UNION ALL SELECT id, bucket, mreg FROM s${t - 1})
         |      GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val rawExpr = "0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 " +
      "* 1152921504606846976.0 / CAST(ssum AS DOUBLE)"
    val ests = (0 to 3).map { t =>
      s"""pn$t AS (SELECT id,
         |    CAST(floor((CASE WHEN $rawExpr <= 640.0 AND v0 > 0
         |           THEN 256.0 * ln(256.0 / CAST(v0 AS DOUBLE))
         |           ELSE $rawExpr END) * 1000000.0) AS BIGINT) AS est_micro
         |  FROM (SELECT id,
         |          sum(CAST(1 AS BIGINT) << (60 - mreg))
         |            + CAST(256 - count(*) AS HUGEINT)
         |              * CAST(1152921504606846976 AS HUGEINT) AS ssum,
         |          256 - count(*) AS v0
         |        FROM s$t GROUP BY 1)),
         |est$t AS (SELECT CAST($t AS BIGINT) AS t, count(*) AS n_nodes,
         |    CAST(sum(est_micro) AS BIGINT) AS sum_ball_micro
         |  FROM pn$t)""".stripMargin
    }.mkString(",\n")
    s"""d AS ($linkGraphSql),
       |n AS (SELECT DISTINCT id FROM
       |        (SELECT src AS id FROM d UNION ALL SELECT dst FROM d)),
       |h AS (SELECT id, md5(CAST(id AS VARCHAR)) AS hx FROM n),
       |r0 AS (SELECT id,
       |         16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
       |           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
       |         ltrim(substr(hx, 3, 14), '0') AS stripped
       |       FROM h),
       |s0 AS (SELECT id, bucket,
       |         CASE WHEN stripped = '' THEN 57
       |              ELSE 4 * (14 - length(stripped))
       |                + (4 - CASE WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 8 THEN 4
       |                           WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 4 THEN 3
       |                           WHEN strpos('0123456789abcdef',
       |                                        substr(stripped, 1, 1)) - 1 >= 2 THEN 2
       |                           ELSE 1 END) + 1 END AS mreg
       |       FROM r0),
       |$merges,
       |$ests,
       |nb AS (SELECT * FROM est0 UNION ALL SELECT * FROM est1
       |       UNION ALL SELECT * FROM est2 UNION ALL SELECT * FROM est3)""".stripMargin
  }

  private val wordsSql = "string_split_regex(lower(trim(text)), '\\s+')"
  // THE oracle bigram definition — one source, mirrored by
  // TextFunctions.bigramsExpr on the Spark side.
  private val bigramListSql =
    "list_transform(generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i+1])"
  private val wordCte = s"w AS (SELECT doc_id, $wordsSql AS l FROM documents)"
  private def shingleCteFrom(tbl: String) =
    s"""w AS (SELECT doc_id, $wordsSql AS l FROM $tbl),
       |sh AS (SELECT doc_id,
       |         unnest(list_distinct(list_transform(generate_series(1, len(l) - 2),
       |           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
       |       FROM w)""".stripMargin
  private val shingleCte = shingleCteFrom("documents")
  // Embedding CTE with the norm precomputed once per vector — mirrors the
  // Spark side, which norms each side before the pairwise join.
  private val embCte =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |         sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |       FROM embeddings)""".stripMargin
  private def cos(a: String, b: String) =
    s"list_inner_product($a.v, $b.v) / ($a.nrm * $b.nrm)"

  /** Shared (cell_id, label, n) contingency of the deterministic
    * seed-centroid assignment vs the embedding labels — ONE builder so
    * cluster_purity and cluster_rand_index grade the IDENTICAL table
    * (the priorityContingency discipline from q_chi_squared/
    * q_cramers_v: a drifted assignment convention in one of the two
    * would silently de-synchronize queries that claim to share it). */
  private def labelContingency(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (_, asg) = Similarity.kmeans(emb, k = 8, iterations = 0)
    asg.select(col("c_id"), col("cell_id"))
      .join(emb.select(col("vec_id").as("c_id"),
        col("label").cast("long").as("label")), "c_id")
      .groupBy(col("cell_id"), col("label")).agg(count(lit(1)).as("n"))
  }

  /** Oracle twin of [[labelContingency]]: CTEs `e/cent/asg/j/cells`
    * with `cells(cell_id, label, n)`. */
  private val labelContingencyCtes =
    s"""$embCte,
       |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
       |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
       |asg AS (SELECT c_id, cell_id FROM (
       |          SELECT e.vec_id AS c_id, cent.cell_id,
       |                 row_number() OVER (PARTITION BY e.vec_id
       |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
       |                            cent.cell_id) AS rn
       |          FROM e CROSS JOIN cent) t WHERE rn = 1),
       |j AS (SELECT asg.cell_id, CAST(e2.label AS BIGINT) AS label
       |      FROM asg JOIN embeddings e2 ON e2.vec_id = asg.c_id),
       |cells AS (SELECT cell_id, label, count(*) AS n FROM j GROUP BY 1, 2)""".stripMargin

  // Shared minhash signature/band CTEs (16 hashes, 4 bands) — the
  // per-doc half of the LSH recipe, reused by the pair oracles below
  // AND by the incremental (delta-vs-corpus) matching oracle, whose
  // candidate join differs.
  private def sigBandCtesFrom(tbl: String) =
    s"""${shingleCteFrom(tbl)},
       |sig AS (SELECT doc_id, seed,
       |          min(((2 * seed + 1) * h0 + (1000003 * seed + 12345)) % 2305843009213693951) AS minh
       |        FROM (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h0 FROM sh) s
       |        CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS seed) seeds
       |        GROUP BY doc_id, seed),
       |bands AS (SELECT doc_id, seed // 4 AS band,
       |            md5(string_agg(minh::VARCHAR, ',' ORDER BY seed)) AS band_key
       |          FROM sig GROUP BY doc_id, seed // 4)""".stripMargin

  // Full minhash-LSH pair CTEs (est >= 0.5) — consumed by dedup_minhash
  // and re-used verbatim by the connected-component / survivor /
  // curation-v2 oracles so all of them grade the same pair set.
  private def minhashCtesFrom(tbl: String) =
    s"""${sigBandCtesFrom(tbl)},
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.band_key = y.band_key
       |          AND x.doc_id < y.doc_id),
       |est AS (SELECT doc_a, doc_b,
       |          round(avg(CASE WHEN a.minh = b.minh THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
       |        FROM cand
       |        JOIN sig a ON a.doc_id = doc_a
       |        JOIN sig b ON b.doc_id = doc_b AND a.seed = b.seed
       |        GROUP BY doc_a, doc_b),
       |mh_pairs AS (SELECT doc_a, doc_b, est_jaccard FROM est
       |             WHERE est_jaccard >= 0.5)""".stripMargin
  private val minhashCtes = minhashCtesFrom("documents")

  /** Per-doc shingle novelty (shared by `text_ngram_novelty` and
    * `pipeline_curation_v3`): distinct-shingle hashes → corpus df →
    * fraction with df = 1. Docs under 3 words have no shingles and are
    * absent from the output. */
  private def ngramNovelty(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), TextFunctions.words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(graft.plans.ShingleHashes(col("w"))).as("h"))
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfc, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel") / col("n_shingles"), 6).as("novelty"))
  }

  /** Per-source epoch weights for `data_epochs` — ONE definition feeds
    * both the Spark config map and the oracle's VALUES list. */
  private val epochConfig: Seq[(String, Double)] =
    (0 until 20).map(k => s"src$k" -> (k % 3 + (k * 137 % 1000) / 1000.0))

  // Pair graph → per-node min component id, shared by the components /
  // survivors / curation-v2 oracles (expects `mh_pairs` in scope; the
  // enclosing WITH must be RECURSIVE).
  private val componentCtes =
    """edges AS (SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      |          UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
      |walk AS (SELECT DISTINCT u AS node, u AS lbl FROM edges
      |         UNION
      |         SELECT e.v AS node, walk.lbl FROM walk
      |         JOIN edges e ON e.u = walk.node),
      |comp AS (SELECT node, min(lbl) AS component FROM walk GROUP BY node),
      |losers AS (SELECT node FROM comp WHERE node <> component)""".stripMargin

  /** Fixed literal BPE merges for the graded encoder query — common
    * English pairs, rank-ordered. The oracle replays them as a chained
    * `replace` with fresh placeholder chars (chr(1)..chr(4)): rank-
    * ordered full-string replacement with placeholders is exactly the
    * leftmost-non-overlapping greedy semantics of canonical BPE (a later
    * merge can never create an occurrence of an earlier pattern — its
    * placeholder symbol is fresh), so the token counts grade exactly. */
  val FixedBpeMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))

  /** Fixed literal corpus for the graded trainer query — sfDir-
    * independent so the learned merge table is a constant the oracle
    * can carry as literals. Plain ASCII, enough bigram repetition for
    * 10+ merges above minFreq=2, with deliberate frequency ties so the
    * lexicographic tie-break is exercised. */
  private val bpeTrainCorpus: Seq[String] = Seq(
    "the thin thread threads through the other thermal threshold",
    "in the morning the main rain train ran in the plain",
    "an ant and another animal began standing near the bank",
    "she sells sea shells on the sea shore near the shoreline",
    "better butter makes the batter better said the baker",
    "the running runner runs in the rain on the main lane",
    "thinking things through takes the thinker another hour",
    "a banana and an orange and a mango in a basket",
    "the thunder then the rain then the thin mist in the glen",
    "standing fans and landing planes and sandy strands")

  /** INDEPENDENT sequential BPE trainer over the fixed corpus — plain
    * Scala collections with the same greedy semantics (global argmax by
    * (freq desc, left, right), leftmost non-overlapping resegmentation,
    * stop below minFreq): generates the oracle literals for
    * `text_bpe_train`. Sharing only the SPEC with the distributed
    * trainer (not code paths) is what makes the hash compare a real
    * differential. */
  private def bpeReferenceMerges(numMerges: Int, minFreq: Long): Seq[(Int, String, String, String, Long)] = {
    val vocab = bpeTrainCorpus
      .flatMap(_.trim.toLowerCase.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    var segs: Map[Vector[String], Long] =
      vocab.groupMapReduce { case (w, _) => w.map(_.toString).toVector } { case (_, c) => c }(_ + _)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var done = false
    while (out.size < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (sym, cnt) =>
        sym.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + cnt
          case _ => ()
        }
      }
      counts.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.headOption match {
        case Some(((l, r), f)) if f >= minFreq =>
          out += ((out.size, l, r, l + r, f))
          segs = segs.groupMapReduce { case (sym, _) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < sym.length) {
              if (i < sym.length - 1 && sym(i) == l && sym(i + 1) == r) {
                b += (l + r); i += 2
              } else { b += sym(i); i += 1 }
            }
            b.result()
          } { case (_, c) => c }(_ + _)
        case _ => done = true
      }
    }
    out.toSeq
  }

  // PQ shared CTEs (16 subspaces × 4 dims, 32 codes, queries = vec_id<10)
  // — replays Similarity.pqCodebooks/pqEncode/pqTopK exactly: same
  // md5-ordered seeds, same round-6 L2 argmin with code-id tie-break,
  // same BIGINT micro-unit ADC sum (exact in any aggregation order).
  // Expects `e` (embCte) in scope; yields `r` = ADC-ranked candidates.
  // (16×32 chosen by measured recall: ADC top-1-in-top-10 ≈ 7/10 and
  // rerank ≈ 8–10/10 on the fixtures, vs 2–3/10 for 8×16.)
  private val pqBaseCtes =
    """seeds AS (SELECT vec_id AS code_id, v FROM e
      |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 32),
      |subs AS (SELECT unnest(generate_series(0, 15)) AS j),
      |cbd AS (SELECT j, code_id, list_slice(v, j*4+1, j*4+4) AS cvec,
      |               list_inner_product(list_slice(v, j*4+1, j*4+4),
      |                                  list_slice(v, j*4+1, j*4+4)) AS cdot
      |        FROM seeds CROSS JOIN subs),
      |x AS (SELECT e.vec_id AS c_id, j, list_slice(e.v, j*4+1, j*4+4) AS xsub
      |      FROM e CROSS JOIN subs),
      |enc AS (SELECT c_id, j, code_id FROM (
      |          SELECT x.c_id, x.j, cbd.code_id,
      |                 row_number() OVER (PARTITION BY x.c_id, x.j
      |                   ORDER BY round(list_inner_product(xsub, xsub)
      |                              - 2 * list_inner_product(xsub, cvec)
      |                              + cdot, 6),
      |                            cbd.code_id) AS rn
      |          FROM x JOIN cbd ON x.j = cbd.j) t WHERE rn = 1),
      |qq AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id < 10),
      |lut AS (SELECT q_id, j, code_id,
      |               CAST(round(list_inner_product(
      |                 list_slice(qq.v, j*4+1, j*4+4), cvec) * 1e6) AS BIGINT) AS ip_micro
      |        FROM qq CROSS JOIN cbd)""".stripMargin

  // Full-corpus ADC scoring + ranking on top of the base (ann_pq /
  // ann_pq_rerank); the IVF+PQ composite swaps in a pruned candidate set.
  private val pqScoreCtes =
    """sc AS (SELECT q_id, c_id, CAST(sum(ip_micro) AS BIGINT) AS adc_micro
      |       FROM enc JOIN lut ON enc.j = lut.j AND enc.code_id = lut.code_id
      |       WHERE q_id <> c_id GROUP BY q_id, c_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |               ORDER BY adc_micro DESC, c_id) AS rank FROM sc)""".stripMargin

  // Filtered IVF+PQ shared CTEs (expects `e` + pqBaseCtes in scope;
  // yields `r` = label-filtered, cell-pruned, ADC-ranked candidates) —
  // consumed by ann_filtered_ivfpq and re-used by the rerank composite
  // so both grade the same retrieval chain.
  private val filteredIvfPqCtes =
    """cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
      |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
      |asg AS (SELECT c_id, cell_id FROM (
      |          SELECT e.vec_id AS c_id, cent.cell_id,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
      |                            cent.cell_id) AS rn
      |          FROM e CROSS JOIN cent) t WHERE rn = 1),
      |probes AS (SELECT q_id, cell_id FROM (
      |             SELECT qq.q_id, cent.cell_id,
      |                    row_number() OVER (PARTITION BY qq.q_id
      |                      ORDER BY round(list_inner_product(qq.v, cent.cv) / (qq.nrm * cent.cn), 6) DESC,
      |                               cent.cell_id) AS rn
      |             FROM qq CROSS JOIN cent) t WHERE rn <= 6),
      |qlab AS (SELECT vec_id AS q_id, label AS qf FROM e WHERE vec_id < 10),
      |clab AS (SELECT vec_id AS c_id, label AS cf FROM e),
      |cand AS (SELECT probes.q_id, asg.c_id
      |         FROM probes JOIN asg USING (cell_id)
      |         JOIN qlab ON qlab.q_id = probes.q_id
      |         JOIN clab ON clab.c_id = asg.c_id AND clab.cf = qlab.qf
      |         WHERE probes.q_id <> asg.c_id),
      |sc AS (SELECT cand.q_id, cand.c_id,
      |              CAST(sum(ip_micro) AS BIGINT) AS adc_micro
      |       FROM cand
      |       JOIN enc ON enc.c_id = cand.c_id
      |       JOIN lut ON lut.q_id = cand.q_id AND lut.j = enc.j
      |              AND lut.code_id = enc.code_id
      |       GROUP BY cand.q_id, cand.c_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
      |               ORDER BY adc_micro DESC, c_id) AS rank FROM sc)""".stripMargin

  // Contamination oracle, parameterized by the shingle-sampling modulus
  // (1 = full universe) so the exact and sampled queries share one SQL.
  private def contaminationOracle(sampleMod: Int) = {
    val sampleWhere = if (sampleMod > 1) s"WHERE key % $sampleMod = 0" else ""
    s"""WITH b AS (SELECT doc_id, text,
       |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk
       |           FROM documents),
       |sp AS (SELECT doc_id, text,
       |         CASE WHEN bk < 800 THEN 'train'
       |              WHEN bk < 900 THEN 'val' ELSE 'test' END AS split
       |       FROM b),
       |w AS (SELECT doc_id, split, $wordsSql AS l FROM sp),
       |sh0 AS (SELECT doc_id, split,
       |         unnest(list_distinct(list_transform(
       |           list_transform(generate_series(1, len(l) - 2),
       |             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]),
       |           s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS key
       |       FROM w),
       |sh AS (SELECT * FROM sh0 $sampleWhere),
       |tk AS (SELECT DISTINCT key FROM sh WHERE split = 'train'),
       |ev AS (SELECT doc_id, key FROM sh WHERE split = 'test'),
       |n AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1),
       |s2 AS (SELECT ev.doc_id, count(*) AS n_shared
       |       FROM ev JOIN tk USING (key) GROUP BY 1)
       |SELECT n.doc_id AS doc, n.n_shingles,
       |       coalesce(s2.n_shared, 0) AS n_shared,
       |       round(coalesce(s2.n_shared, 0) * 1.0 / n.n_shingles, 4) AS contamination
       |FROM n LEFT JOIN s2 ON s2.doc_id = n.doc_id
       |ORDER BY doc""".stripMargin
  }

  // Programmatically built SimHash SQL (32 sum columns + bit recombine),
  // guaranteed in sync with Dedup.simhash.
  private val simhashVotes = (0 until 32).map(j =>
    s"sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(",\n         ")
  private val simhashBits = (0 until 32).map(j =>
    s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
  private val simhashCte =
    s"""t AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
       |hh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM t),
       |v AS (SELECT doc_id,
       |         $simhashVotes
       |       FROM hh GROUP BY doc_id),
       |sim AS (SELECT doc_id, $simhashBits AS simhash FROM v)""".stripMargin

  /** The single-file multi-block customer Avro fixture (shared by the
    * three avro-split grades through ONE StagedInputs key, so the
    * staged bytes cannot drift between them). */
  private def stagedCustomerAvro1File(s: SparkSession, dir: String): String =
    ParityQueries.StagedInputs(s"$dir|customer|avro-1file") { d =>
      val rows = Tables.customer(s, dir)
        .select(col("c_custkey").cast("long"), col("c_name"),
          col("c_nationkey").cast("long"),
          floor(col("c_acctbal") * 100).cast("long").as("ac"))
        .orderBy("c_custkey")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq
      graft.sources.AvroIngest.writeCustomerAvro(rows,
        new java.io.File(d, "all.avro"), syncIntervalBytes = 512)
      d
    }

  /** Open the staged single-file fixture through the AvroSplit DSv2
    * with a split size that yields ~8 byte-range tasks at any SF. */
  private def avroSplitRead(s: SparkSession, path: String): DataFrame = {
    val len = new java.io.File(path, "all.avro").length()
    s.read.format(classOf[graft.sources.AvroSplitProvider].getName)
      .option("path", path)
      .option("splitBytes", math.max(1024L, len / 8))
      .load()
  }

  /** The DSv2 scan's pruned read schema(s) in `df`'s optimized plan —
    * the in-code evidence that a projection genuinely reached the
    * AvroSplit reader instead of being applied above a full-width scan. */
  private def v2ReadSchemas(df: DataFrame): Seq[Seq[String]] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema().fieldNames.toSeq
    }

  /** The synthetic link graph the link-graph queries grade: each doc
    * links to the three targets dst = (7·src + 13·k) mod n, k = 1..3,
    * with n the number of `docs` rows. n is counted here, once, and
    * enters the plan as a literal: as a scalar subquery it was measured
    * slower, since the plan then runs the count once per branch that
    * reads the graph. Output (src, dst); [[linkGraphSql]] is the oracle
    * side. */
  private[queries] def linkGraph(docs: DataFrame): DataFrame = {
    val n = docs.count()
    docs.select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
      .select(col("src"),
        pmod(col("src") * 7 + col("k") * 13, lit(n)).as("dst"))
  }

  /** [[linkGraph]] with a PLANTED dense community: docs 0–39 also link
    * to their next 5 neighbors on the 40-ring, dst = (src + j) mod 40,
    * j = 1..5 — the core graph_kcore and graph_ktruss must isolate. */
  private[queries] def plantedCore(docs: DataFrame): DataFrame =
    linkGraph(docs).unionAll(docs.filter(col("doc_id") < 40)
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L), lit(4L), lit(5L))).as("j"))
      .select(col("src"), pmod(col("src") + col("j"), lit(40L)).as("dst")))

  /** The block-ring community graph: 40-doc blocks, each doc linked to
    * the next two in its block's ring. Output (src, dst). */
  private[queries] def ringGraph(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L))).as("k"))
      .select(col("src"),
        (expr("src div 40") * 40 +
          pmod(pmod(col("src"), lit(40)) + col("k"), lit(40))).as("dst"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", Seq("text"))
        .orderBy("doc_id")),

    "dedup_fingerprint" -> ((s, dir) =>
      Dedup.byFingerprint(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // URL canonicalization + dedup over a deterministic synthetic url
    // column (the fixture has none): messy variants — scheme/host case,
    // :80, www., trailing slash, tracking params in every position,
    // fragments — that collapse to one canonical form per doc_id%20
    // group. Output: the duplicate groups with survivor + count.
    "dedup_url" -> ((s, dir) => {
      val id = col("doc_id")
      val n  = (id % 20).cast("string")
      val url = concat(
        when(id % 3 === 0, lit("HTTP")).otherwise(lit("http")), lit("://"),
        when(id % 2 === 0, lit("WWW.Example.COM")).otherwise(lit("example.com")),
        when(id % 5 === 0, lit(":80")).otherwise(lit("")),
        lit("/docs/"), n,
        when(id % 4 === 0, lit("/")).otherwise(lit("")),
        when(id % 11 === 0, lit(""))
          .when(id % 13 === 0, concat(lit("?utm_medium=email&id="), n))
          .otherwise(concat(lit("?id="), n,
            when(id % 2 === 1, lit("&utm_source=feed&utm_campaign=c1"))
              .otherwise(lit("")))),
        when(id % 7 === 0, lit("#section-2")).otherwise(lit("")))
      Dedup.urlDedup(
          Tables.documents(s, dir).select(id, url.as("url")), "doc_id", "url")
        .filter(col("n_dups") >= 2)
        .orderBy("url_canon")
    }),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          numHashes = 16, numBands = 4, minEstimate = 0.5)
        .orderBy("doc_a", "doc_b")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.shingleJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          minJaccard = 0.8)
        .orderBy("doc_a", "doc_b")),

    // PPJoin-family prefix filtering: EXACT Jaccard ≥ 0.8 pairs with no
    // df cap and no approximation — candidates only where two docs'
    // rarest-token PREFIXES collide. The oracle replays the identical
    // df-ordered prefix selection + full-set verify, so both the bound
    // math and the exact intersection are graded.
    "dedup_prefix_filter" -> ((s, dir) =>
      Dedup.prefixFilterPairs(Tables.documents(s, dir), "doc_id", "text",
          minJaccard = 0.8)
        .orderBy("doc_a", "doc_b")),

    // Pairs → components: min-label propagation with pointer jumping
    // (O(log diameter) shuffle rounds). Graded against a recursive-CTE
    // reachability oracle over the SAME minhash pair SQL.
    "dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
            numHashes = 16, numBands = 4, minEstimate = 0.5))
        .orderBy("node")),

    // Per-source quantile normalization (score calibration): a raw
    // quality score is only comparable WITHIN a domain — different
    // sources have different score distributions — so curation
    // thresholds act on the within-source percent rank instead. One
    // window per source partition (single shuffle on source, tie-broken
    // by doc_id so ranks are engine-portable).
    "data_quantile_normalize" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text",
          passthrough = Seq("source"))
        .select(col("doc_id"), col("source"), col("alpha_ratio"))
        .withColumn("q_norm", round(percent_rank().over(
          Window.partitionBy(col("source"))
            .orderBy(col("alpha_ratio"), col("doc_id"))), 6))
        .orderBy("doc_id")),

    // N-gram novelty scoring: the fraction of a document's distinct
    // shingles that appear NOWHERE else in the corpus — the inverse of
    // boilerplate, the "how much new text does this doc add" curation
    // signal. One shuffle on the 48-bit shingle hash for the df counts,
    // one partial-aggregable per-doc rollup; the shingle builder is the
    // same native codegen expression the dedup path uses.
    "text_ngram_novelty" -> ((s, dir) =>
      ngramNovelty(Tables.documents(s, dir))
        .orderBy("doc_id")),

    // Curation v3 — composes THIS round's signals end-to-end: exact
    // dedup (min-id per text) → minhash component losers removed →
    // per-source quantile-normalized quality gate (q_norm >= 0.2) →
    // corpus novelty gate (>= 0.3; the inner join doubles as the
    // 3-word minimum, since shorter docs have no shingles). Every stage
    // is a graded operator in its own right; the pipeline is their
    // join-composition with no new shuffle shapes.
    // Curation v4 — composes THIS wave's signals into the pipeline
    // shape: readability band-pass (Flesch 30..100, the audience gate)
    // → exact dedup survivorship (md5 fingerprint, min-id winner with
    // its stats carried by one partial-aggregable min_by — no join-back)
    // → curriculum staging over the SURVIVORS (quartile cuts broadcast
    // from one percentile aggregate). Graded on the per-stage rollup:
    // counts, token mass, id range — each stage of the composition
    // individually oracle-graded elsewhere (text_readability,
    // dedup_exact, data_curriculum).
    "pipeline_curation_v4" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"),
          TextFunctions.words(col("text")).as("l"),
          expr("size(filter(split(text, '[.!?]+'), x -> trim(x) != ''))").as("ns0"))
        .select(col("doc_id"), col("text"),
          size(col("l")).cast("long").as("n_words"),
          greatest(col("ns0"), lit(1)).cast("long").as("n_sent"),
          expr("""aggregate(l, cast(0 as bigint), (acc, w) ->
            acc + greatest(cast(1 as bigint),
              cast(size(regexp_extract_all(w, '[aeiouy]+', 0)) as bigint)))""")
            .as("n_syll"),
          expr("aggregate(l, cast(0 as bigint), (acc, w) -> acc + length(w))")
            .as("n_wchars"))
        .withColumn("flesch", lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sent").cast("double")) -
          lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")))
      val kept = base.filter(col("flesch") >= 30.0 && col("flesch") <= 100.0)
      val sv = kept.withColumn("fp", md5(col("text")))
        .groupBy(col("fp"))
        .agg(expr("min_by(struct(doc_id, n_words, n_wchars), doc_id)").as("s"))
        .select(col("s.doc_id").as("doc_id"), col("s.n_words").as("n_words"),
          col("s.n_wchars").as("n_wchars"))
        .withColumn("difficulty",
          (floor(col("n_wchars") * 1000 / col("n_words")) + col("n_words"))
            .cast("long"))
      val cuts = sv.agg(
        expr("percentile(difficulty, array(0.25D, 0.5D, 0.75D))").as("__c"))
        .select(col("__c").getItem(0).as("c1"), col("__c").getItem(1).as("c2"),
          col("__c").getItem(2).as("c3"))
      sv.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_words"),
          (lit(1) + when(col("difficulty") > col("c1"), 1).otherwise(0) +
            when(col("difficulty") > col("c2"), 1).otherwise(0) +
            when(col("difficulty") > col("c3"), 1).otherwise(0)).as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("sum_words"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("stage")
    }),

    // Dataset card — the per-source summary every corpus release ships
    // (docs, token/char mass, language spread, exact-dup rate, mean
    // quality): ONE partial-aggregable pass over scan-speed projections
    // (words/md5/quality are per-row codegen), with the dup rate and
    // mean quality as exact permille/micro floor divisions over the
    // aggregate — the whole card costs one corpus scan at any size.
    "pipeline_dataset_card" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("source"), col("lang"), col("n_chars"),
          size(TextFunctions.words(col("text"))).cast("long").as("n_words"),
          md5(col("text")).as("fp"),
          expr("(length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000)" +
            " div length(text)").as("q_micro"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_words")).as("total_words"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("q_micro")).as("q_sum"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          col("total_words"), col("total_chars"),
          expr("((n_docs - n_unique) * 1000) div n_docs").as("dup_permille"),
          (expr("q_sum div n_docs") / 1e6).as("mean_quality"))
        .orderBy("source")
    }),

    // Curation v5: budget-constrained best-of selection — Hamilton
    // apportionment of a 300-doc budget across sources by char mass
    // (the data_budget_allocation algebra), then fill each source's
    // allocation with its HIGHEST-quality docs (exact alpha-ratio micro
    // score, doc_id tie-break). The composition every mixture-weighted
    // corpus build runs: "spend the token budget proportionally, take
    // the best of each stratum". Shape: the allocation is |sources|-row
    // algebra broadcast back; selection is one per-source rank window
    // (as many partitions as sources); the report is a bounded rollup.
    "pipeline_curation_v5" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val alloc = Sampling.hamiltonAllocation(
          docs.groupBy(col("source")).agg(sum(col("n_chars")).as("weight")),
          budget = 300L)
        .select("source", "alloc")
      val scored = docs.select(col("source"), col("doc_id"), col("n_chars"),
        expr("(length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000)" +
          " div length(text)").as("score_micro"))
      val ws = Window.partitionBy("source")
        .orderBy(col("score_micro").desc, col("doc_id").asc)
      scored.join(broadcast(alloc), "source")
        .withColumn("rk", row_number().over(ws))
        .filter(col("rk") <= col("alloc"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_taken"),
          sum(col("n_chars")).as("chars_taken"),
          (min(col("score_micro")) / 1e6).as("worst_kept_score"))
        .orderBy("source")
    }),

    "pipeline_curation_v3" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val keepers = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val losers = Dedup.connectedComponents(
          Dedup.minhashPairs(docs, "doc_id", "text"))
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      val qn = TextAnalysis.quality(docs, "doc_id", "text",
          passthrough = Seq("source"))
        .select(col("doc_id"), col("source"), col("alpha_ratio"))
        .withColumn("q_norm", round(percent_rank().over(
          Window.partitionBy(col("source"))
            .orderBy(col("alpha_ratio"), col("doc_id"))), 6))
        .select("doc_id", "q_norm")
      docs.select("doc_id", "source")
        .join(keepers, "doc_id")
        .join(losers, Seq("doc_id"), "left_anti")
        .join(qn, "doc_id")
        .join(ngramNovelty(docs).select("doc_id", "novelty"), "doc_id")
        .filter(col("q_norm") >= 0.2 && col("novelty") >= 0.3)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Dedup-tuning evaluation AS an operator (the sibling of
    // ann_recall_eval): precision/recall of the banded MinHash candidate
    // pairs against the exact df-capped n-gram Jaccard ground truth.
    // Both inputs are graded operators already; the eval is one full
    // outer join on the pair keys + one partial-aggregable confusion
    // count — the harness that tells you whether 16x4 banding at
    // est>=0.5 is the right operating point BEFORE committing a 100 TB
    // dedup run to it.
    // Spread.suppress (r14, composite-aware spread): the two candidate
    // generators' internal exchanges are paid but the full-outer join
    // above dominates — the driver measured the composite 2.05 s (r12,
    // no spreads) → 3.90 s (r13, spreads), while the standalone
    // dedup_minhash / dedup_ngram_jaccard keep theirs.
    "dedup_pair_eval" -> ((s, dir) => graft.operators.Spread.suppress {
      val docs = Tables.documents(s, dir)
      val cand = Dedup.minhashPairs(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), lit(1).as("m"))
      val truth = Dedup.shingleJaccardPairs(docs, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
      cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(when(col("m") === 1 && col("t") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("m") === 1 && col("t").isNull, 1L).otherwise(0L)).as("fp"),
          sum(when(col("m").isNull && col("t") === 1, 1L).otherwise(0L)).as("fn"))
        .select(col("tp"), col("fp"), col("fn"),
          round(col("tp") / (col("tp") + col("fp")), 6).as("precision"),
          round(col("tp") / (col("tp") + col("fn")), 6).as("recall"))
    }),

    // Corpus-health histogram of near-dup component sizes (+ the
    // singleton count as size 1): the first chart every dedup run is
    // judged by — a giant component means the threshold is too loose,
    // all-singletons means it is too tight. Two partial-aggregable
    // groupBys over the component labels + one anti-join for the
    // never-paired documents; output is bounded by the largest
    // component size, never the corpus.
    "dedup_cluster_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text"))
      val sizes = comp.groupBy(col("component")).agg(count(lit(1)).as("size"))
      val hist = sizes.groupBy(col("size")).agg(count(lit(1)).as("n_components"))
      val singles = docs
        .join(comp.select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_components"))
        .select(lit(1L).as("size"), col("n_components"))
      hist.unionByName(singles)
        .groupBy(col("size"))
        .agg(sum(col("n_components")).cast("long").as("n_components"))
        .orderBy(col("size"))
    }),

    // The "emit the cleaned corpus" contract: near-dup pairs → component
    // survivors (min id) + every never-paired document.
    "dedup_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.nearDupSurvivors(docs, "doc_id",
          Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 16, numBands = 4, minEstimate = 0.5))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Incremental ingest dedup: the doc_id % 10 == 0 slice plays the
    // "new batch", the rest the indexed corpus — per-ingest cost scales
    // with the delta, not the corpus.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalMinhashMatches(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", numHashes = 16, numBands = 4, minEstimate = 0.5)
        .orderBy("new_doc", "corpus_doc")
    }),

    // Train/test decontamination: distinct-shingle overlap of every test
    // doc against the train split's shingle universe.
    "text_contamination" -> ((s, dir) =>
      Dedup.crossSplitContamination(
          Sampling.splitAssign(Tables.documents(s, dir), "doc_id"),
          "doc_id", "text", "split")
        .orderBy("doc")),

    // The sampled fast path: 1-in-4 deterministic shingle sampling on
    // both sides — the join and the train-distinct shrink 4×; the
    // ratio becomes an estimate over the sampled universe.
    "text_contamination_sampled" -> ((s, dir) =>
      Dedup.crossSplitContamination(
          Sampling.splitAssign(Tables.documents(s, dir), "doc_id"),
          "doc_id", "text", "split", sampleMod = 4)
        .orderBy("doc")),

    // Quality-aware survivor policy: keep each component's HIGHEST
    // alpha_ratio member (tie → min id) instead of the min id — "keep
    // the best copy".
    "dedup_survivors_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.quality(docs, "doc_id", "text",
        passthrough = Seq("lang", "source"))
      Dedup.nearDupSurvivorsBy(scored, "doc_id", "alpha_ratio",
          Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 16, numBands = 4, minEstimate = 0.5))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // The dataset card: per (source, lang) mixture stats — what a
    // training run reports about its corpus composition. The quality
    // average sums integer ten-thousandths (one double division at the
    // end): a double `avg` is summation-order-dependent and flips the
    // 4th decimal on boundary groups across engines.
    "pipeline_mixture" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text",
          passthrough = Seq("lang", "source", "text"))
        .withColumn("n_tokens", size(TextFunctions.words(col("text"))))
        .withColumn("alpha_e4",
          expr("cast(round(alpha_ratio * 10000) as bigint)"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          round(sum(col("alpha_e4")) / (count(lit(1)) * 10000.0), 4)
            .as("avg_alpha"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("source"), col("lang"))),

    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          minContainment = 0.6)
        .orderBy("doc_a", "doc_b")),

    "text_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 4)
        .orderBy("doc_a", "doc_b")),

    "dedup_embedding" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, dir), "label", 0.4)
        .orderBy("id_a", "id_b")),

    // Fuzzy entity-resolution join: deletion-neighborhood candidates +
    // exact levenshtein verify. The ORACLE is brute force (all pairs
    // within length ±1) — independent of the blocking algorithm, so a
    // neighborhood bug that DROPS a true pair hash-mismatches, not just
    // one that admits extras.
    "dedup_fuzzy" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_custkey", "c_name")
        .orderBy("id_a", "id_b")),

    // Blocked Jaro–Winkler similarity scoring — the OTHER half of the
    // record-linkage toolbox (editDistanceLink covers edit distance ≤ 1;
    // JW scores graded prefixes/transpositions continuously). Semantics
    // = every same-nation pair with JW ≥ 0.97, but the candidate
    // generator is the SOUND sorted-chars deletion-neighborhood
    // equi-join (Dedup.jaroWinklerPairs) — linear in customers, unlike
    // the nation block² self-join it replaced (25 fixed blocks grow
    // linearly with the corpus, so pairs grew quadratically: 4.5 M at
    // sf0.1 → ~45 G at sf10). The ORACLE stays the brute-force block
    // join — independent of the blocking algorithm, so a neighborhood
    // bug that DROPS a true pair hash-mismatches, not just one that
    // admits extras.
    "dedup_jaro" -> ((s, dir) =>
      Dedup.jaroWinklerPairs(Tables.customer(s, dir),
          "c_custkey", "c_name", "c_nationkey", minJw = 0.97)
        .orderBy("id_a", "id_b")),

    // Record linkage across two sources: source B is a deterministically
    // "dirtied" copy of the customer file (one character deleted at a
    // key-dependent position), linked back to source A by nation-blocked
    // deletion-neighborhood candidates + exact levenshtein ≤ 1, then
    // survivorship picks the best match per B record (min dist, min id).
    // The ORACLE is brute force within the nation block — independent of
    // the candidate algorithm, so a dropped true match hash-mismatches.
    "pipeline_record_linkage" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val a = c.select(col("c_custkey").as("rid"), col("c_name").as("nm"),
        col("c_nationkey").as("nation"))
      val b = c.select(col("c_custkey").as("rid"),
        expr("""concat(substring(c_name, 1, cast(c_custkey % length(c_name) as int)),
               |       substring(c_name, cast(c_custkey % length(c_name) as int) + 2))"""
          .stripMargin).as("nm"),
        col("c_nationkey").as("nation"))
      val w = Window.partitionBy(col("id_r"))
      Dedup.editDistanceLink(a, b, "rid", "nm", "nation")
        .withColumn("n_cands", count(lit(1)).over(w))
        .withColumn("rk", row_number().over(
          w.orderBy(col("dist"), col("id_l"))))
        .filter(col("rk") === 1)
        .select(col("id_r").as("b_id"), col("id_l").as("best_a_id"),
          col("dist"), col("n_cands"))
        .orderBy("b_id")
    }),

    // int8 quantization — the driver compare can't hash array columns,
    // so the graded surface is integer-exact scalars of the quantized
    // vector (sum/min/max) plus the rounded scale; the full roundtrip
    // error bound is asserted in SimilaritySpec.
    "embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("dim"), round(col("scale"), 6).as("scale_r"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
          array_min(col("q")).as("q_min"), array_max(col("q")).as("q_max"))
        .orderBy("vec_id")),

    // Per-dimension feature stats (the transpose of q_explode_stats):
    // mean/std from exact integer micro-unit sums — the whitening /
    // quantization-calibration pass before indexing.
    "embedding_stats" -> ((s, dir) =>
      Similarity.dimensionStats(Tables.embeddings(s, dir))
        .orderBy("dim")),

    // Johnson–Lindenstrauss projection to 8 dims — deterministic ±1
    // planes constant-folded into the plan AND into the generated
    // oracle; one codegen scan, the cheap pre-pass that shrinks every
    // downstream distance computation.
    "embedding_project" -> ((s, dir) =>
      Similarity.randomProjection(Tables.embeddings(s, dir), outDim = 8)
        .orderBy("vec_id")),

    "ann_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("q_id", "rank")
    }),

    // Approximate ANN by random-hyperplane LSH — deterministic planes,
    // replayed exactly by the generated oracle; recall vs brute force is
    // additionally asserted in ScalaTest.
    "ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("q_id", "rank")
    }),

    // Range search: every neighbor within cosine ≥ 0.25 — no window, no
    // per-query state; output size is governed by the radius.
    "ann_radius" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceRadius(emb, emb.filter(col("vec_id") < 10), 0.25)
        .orderBy("q_id", "c_id")
    }),

    // Late-interaction MaxSim (ColBERT-style): 8 token sub-vectors of 8
    // dims per embedding; every query chunk aligns to its best candidate
    // chunk. Same broadcast-query corpus-scan shape as brute force — the
    // interaction matrix is a nested HOF expression, not a join.
    "ann_maxsim" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.maxSimTopK(emb, emb.filter(col("vec_id") < 8), 5)
        .orderBy("q_id", "rank")
    }),

    // Distributed PCA power iteration (Similarity.powerIteration): the
    // top principal direction by three matrix-free v ← normalize(XᵀXv)
    // rounds in exact micro-BIGINT arithmetic — the oracle unrolls the
    // identical HUGEINT rounds, so the iterative linear algebra is
    // graded digit-for-digit (see the operator scaladoc for the scale
    // shape: one corpus pass + one dim-group aggregate per round).
    "embedding_power_iter" -> ((s, dir) =>
      Similarity.powerIteration(Tables.embeddings(s, dir), rounds = 3)
        .orderBy("d")),

    // Multi-probe LSH: Hamming-1 band-key probes on the QUERY side only —
    // candidate superset of ann_lsh at identical corpus-side cost; recall
    // gain asserted in SimilaritySpec.
    "ann_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("q_id", "rank")
    }),

    // IVF approximate ANN — centroids are an md5-ordered prefix of the
    // corpus, replayable in SQL; recall vs brute force asserted in
    // ScalaTest.
    "ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 10,
          numCells = 16, nProbe = 6)
        .orderBy("q_id", "rank")
    }),

    // Product-quantization ADC ANN — the compressed-corpus path (codes
    // only, 8 ints/vector). Codebooks are the md5-ordered seed prefix
    // sliced per subspace; the ADC score is an exact BIGINT micro-unit
    // sum, so the oracle replays it bit-for-bit.
    "ann_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 10,
          numSub = 16, numCodes = 32, dim = 64)
        .orderBy("q_id", "rank")
    }),

    // Retrieval-quality evaluation AS an operator: per-query recall@10
    // of the LSH path against the exact brute-force top-10. Both inputs
    // are deterministic graded queries; the eval is a left join on the
    // (q_id, c_id) pairs + one partial-aggregable count — the harness a
    // production ANN deployment runs continuously to watch index drift.
    "ann_recall_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, 10)
        .select(col("q_id"), col("c_id"))
      val approx = Similarity.lshTopK(emb, qs, 10)
        .select(col("q_id").as("aq"), col("c_id").as("ac"))
      exact.join(approx,
          col("q_id") === col("aq") && col("c_id") === col("ac"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("ac")).as("hits"))
        .select(col("q_id"), col("hits"),
          round(col("hits") / 10.0, 6).as("recall"))
        .orderBy("q_id")
    }),

    // Matryoshka-truncation retrieval eval: recall@10 of the FIRST-16-
    // dims ranking against the full 64-dim exact top-10 — the decision
    // harness for "can we serve the 4×-cheaper truncated index?"
    // (Kusupati et al. 2022's MRL serving question, answered with the
    // same join-and-count shape as ann_recall_eval). Truncation is a
    // zero-copy `slice` projection; both rankings are the graded
    // brute-force operator, so the eval adds one left join + one
    // partial-aggregable count.
    "ann_matryoshka_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trunc = emb.select(col("vec_id"),
        expr("slice(embedding, 1, 16)").as("embedding"))
      val full = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 10)
        .select(col("q_id"), col("c_id"))
      val tr = Similarity.bruteForceTopK(trunc, trunc.filter(col("vec_id") < 10), 10)
        .select(col("q_id").as("tq"), col("c_id").as("tc"))
      full.join(tr,
          col("q_id") === col("tq") && col("c_id") === col("tc"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("tc")).as("hits"))
        .select(col("q_id"), col("hits"),
          round(col("hits") / 10.0, 6).as("recall_at_10"))
        .orderBy("q_id")
    }),

    // SFT conversation packing: thread documents into 8-turn
    // conversations with alternating user/assistant roles, fit each
    // conversation to a 256-token context by TRUNCATING FROM THE START
    // (a reverse cumulative token sum keeps the LATEST turns — the
    // standard chat-template fit), and mark the assistant-only loss
    // mask. The reverse-cumsum window partitions by conversation (8
    // rows each — never corpus-wide); everything is exact integer
    // token counts and boolean algebra.
    "data_sft_pack" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), expr("doc_id div 8").as("conv_id"),
          pmod(col("doc_id"), lit(8)).as("turn_idx"),
          size(TextFunctions.words(col("text"))).cast("long").as("n_tokens"))
        .withColumn("role",
          when(pmod(col("turn_idx"), lit(2)) === 0, "user")
            .otherwise("assistant"))
      val w = Window.partitionBy(col("conv_id"))
        .orderBy(col("turn_idx").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("rev_cum", sum(col("n_tokens")).over(w))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("n_tokens"),
          (col("rev_cum") <= 256).as("kept"),
          (col("rev_cum") <= 256 && col("role") === "assistant").as("loss_mask"))
        .orderBy("conv_id", "turn_idx")
    }),

    // Rank-biased overlap (Webber 2010, truncated @10, p = 0.9) between
    // the exact and LSH rankings — recall@k ignores ORDER; RBO weights
    // agreement at the top. Per shared candidate only max(rankA, rankB)
    // matters: exploding it to the depths it contributes to turns the
    // per-depth prefix-intersection into ONE partial-aggregable count
    // (≤ 10 rows per query), and the weighted sum runs over those ≤10
    // terms. The p-powers are shared double literals — no libm pow.
    "ann_rbo_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb, qs, 10)
        .select(col("q_id"), col("c_id"), col("rank").as("ra"))
      val approx = Similarity.lshTopK(emb, qs, 10)
        .select(col("q_id").as("aq"), col("c_id").as("ac"), col("rank").as("rb"))
      val j = exact.join(approx,
          col("q_id") === col("aq") && col("c_id") === col("ac"))
        .select(col("q_id"), greatest(col("ra"), col("rb")).as("rmax"))
      val terms = j
        .select(col("q_id"), explode(sequence(col("rmax"), lit(10))).as("d"))
        .groupBy(col("q_id"), col("d")).agg(count(lit(1)).as("x"))
      qs.select(col("vec_id").as("q_id"))
        .join(terms, Seq("q_id"), "left")
        .groupBy(col("q_id"))
        .agg(
          coalesce(sum(expr(s"x * (${rboWeightCase("d")}) / d")), lit(0.0)).as("s"),
          coalesce(max(when(col("d") === 10, col("x"))), lit(0L)).as("overlap_at_10"))
        .select(col("q_id"),
          round(lit(1.0 - 0.9) * col("s"), 6).as("rbo"),
          col("overlap_at_10"))
        .orderBy("q_id")
    }),

    // Conversion latency: first view → first purchase per user, graded
    // on the cohort size and the exact/interpolated delay statistics.
    // ONE conditional-min aggregate per user (partial-aggregable), then
    // a single constant-size stats row; the mean is an exact integer
    // division, the percentiles interpolate over integer minutes.
    "q_time_to_convert" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts_ms"))).as("fv"),
          min(when(col("event_type") === "purchase", col("ts_ms"))).as("fp"))
        .filter(col("fv").isNotNull && col("fp").isNotNull && col("fp") > col("fv"))
        .select(expr("(fp - fv) div 60000").as("mins"))
        .agg(count(lit(1)).as("n_converted"),
          expr("((sum(mins) * 100) div count(1))").as("__m100"),
          expr("round(percentile(mins, 0.5D), 4)").as("p50_mins"),
          expr("round(percentile(mins, 0.9D), 4)").as("p90_mins"))
        .select(col("n_converted"), (col("__m100") / 100.0).as("mean_mins"),
          col("p50_mins"), col("p90_mins"))),

    // Reciprocal-rank fusion of two INDEPENDENT retrieval systems (LSH
    // cosine and PQ/ADC) — the standard hybrid-search combiner
    // (Cormack et al. 2009): score = Σ 1/(60+rank), no score
    // calibration needed across systems. A full outer join on the
    // candidate pairs + one fixed-order expression, then the usual
    // per-query top-k window; both inputs are compressed/bucketed
    // retrieval paths, so the fusion adds no corpus scan at all.
    "ann_rrf_fusion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 10)
      val lsh = Similarity.lshTopK(emb, qs, 10)
        .select(col("q_id"), col("c_id"), col("rank").as("r_lsh"))
      val pq = Similarity.pqTopK(emb, qs, 10,
          numSub = 16, numCodes = 32, dim = 64)
        .select(col("q_id"), col("c_id"), col("rank").as("r_pq"))
      val fused = lsh.join(pq, Seq("q_id", "c_id"), "full_outer")
        .select(col("q_id"), col("c_id"),
          round(coalesce(lit(1.0) / (col("r_lsh") + 60), lit(0.0)) +
                coalesce(lit(1.0) / (col("r_pq") + 60), lit(0.0)), 6).as("rrf"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("rrf").desc, col("c_id"))
      fused.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .orderBy("q_id", "rank")
    }),

    // Filtered ANN: top-5 neighbors that SHARE the query's label — the
    // metadata predicate rides in the join key, so filtering precedes
    // scoring (per-label blocks, never query × corpus).
    "ann_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 10), 5,
          filterCol = "label")
        .orderBy("q_id", "rank")
    }),

    // IVF+PQ composite: IVF prunes WHICH vectors get scored (probed
    // cells only), PQ compresses HOW (codes + ADC LUT). Same generated-
    // oracle treatment — both index choices are md5-deterministic.
    "ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 10,
          numCells = 16, nProbe = 6, numSub = 16, numCodes = 32, dim = 64)
        .orderBy("q_id", "rank")
    }),

    // Filtered IVF+PQ: the per-tenant serving composite — label equality
    // in the candidate join key, IVF cell pruning, ADC scoring over
    // codes only. Both index choices are md5-deterministic, the filter
    // is exact, and the ADC sum is BIGINT — so the oracle replays it.
    "ann_filtered_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.filteredIvfPqTopK(emb, emb.filter(col("vec_id") < 10), 5,
          filterCol = "label", numCells = 16, nProbe = 6,
          numSub = 16, numCodes = 32, dim = 64)
        .orderBy("q_id", "rank")
    }),

    // K-means' deterministic half, graded: seeding (md5-ordered corpus
    // prefix) + nearest-centroid assignment (round-6 cosine, cell-id
    // tie-break) at iterations=0 is a pure function of the data, so the
    // oracle replays it exactly — only the iterative means update stays
    // spec-only (double summation order precludes cross-engine bit
    // parity). This grades the same partial-aggregable min_by shape the
    // IVF index uses.
    "cluster_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, asg) = Similarity.kmeans(emb, k = 8, iterations = 0)
      asg.select(col("c_id"), col("cell_id"), col("__sim").as("sim"))
        .orderBy("c_id")
    }),

    // The FULL iterative Lloyd's algorithm graded — exactMeans quantizes
    // each element to micro-units so the per-cell mean is
    // (sum BIGINT / count) / 1e6: an exact associative integer sum makes
    // the centroids bit-identical in any aggregation order, and the
    // oracle unrolls both iterations as CTEs with the same integer
    // arithmetic. Closes the last spec-only operator besides nothing.
    "cluster_kmeans" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (_, asg) = Similarity.kmeans(emb, k = 8, iterations = 2, exactMeans = true)
      asg.select(col("c_id"), col("cell_id"), col("__sim").as("sim"))
        .orderBy("c_id")
    }),

    // Clustering-quality diagnostic: centroid-based silhouette per
    // cluster (O(N·k), never the N² true silhouette) — exact micro-unit
    // per-point scores, one broadcast cross join + one shuffle on cell.
    "cluster_silhouette" -> ((s, dir) =>
      Similarity.silhouette(Tables.embeddings(s, dir), k = 8)
        .orderBy("cell_id")),

    // External clustering evaluation #1 — PURITY against the embedding
    // labels: per cluster, the modal label and its count (packed-BIGINT
    // argmax with the smallest-label tie-break — the q_mode discipline),
    // corpus purity = Σ modal / N as one micro division. Shape: the
    // contingency table is two stacked partial-aggregable
    // HashAggregates bounded by |cells|·|labels|; the total is a
    // broadcast 1-row aggregate. Pack headroom: counts < 2⁴² before
    // the 2²¹ label pack wraps — widen to decimal past that.
    "cluster_purity" -> ((s, dir) => {
      val pack = 2097152L // 2^21
      val cells = labelContingency(s, dir)
      val per = cells.groupBy(col("cell_id"))
        .agg(count(lit(1)).as("n_labels"), sum(col("n")).as("n_points"),
          max(col("n") * pack + (lit(pack - 1) - col("label"))).as("pmax"))
        .select(col("cell_id"), col("n_labels"), col("n_points"),
          (lit(pack - 1) - pmod(col("pmax"), lit(pack))).as("modal_label"),
          expr("pmax div 2097152").as("modal_n"))
      val tot = per.agg(sum(col("modal_n")).as("sm"),
        sum(col("n_points")).as("sp"))
      per.crossJoin(broadcast(tot))
        .select(col("cell_id"), col("n_labels"), col("n_points"),
          col("modal_label"), col("modal_n"),
          (expr("(sm * 1000000) div sp") / 1e6).as("purity"))
        .orderBy("cell_id")
    }),

    // External clustering evaluation #2 — RAND INDEX against the
    // labels, by pure pair counting on the contingency table: with
    // t_X = Σ x(x−1) over the relevant marginals, RI = (T + 2·t_ij −
    // t_i − t_j) / T where T = n(n−1) — the ½ in every C(·,2) cancels,
    // so the whole statistic is ONE integer division of exact
    // decimal(38,0) sums (no factorials, no floats). Shape: one
    // contingency aggregate, then algebra over its |cells|·|labels|
    // rows and two bounded marginal rollups.
    "cluster_rand_index" -> ((s, dir) => {
      val dec = "decimal(38,0)"
      val cells = labelContingency(s, dir)
      val tij = cells.agg(
        sum(expr(s"cast(n as $dec) * (n - 1)")).as("t_ij"))
      val ti = cells.groupBy(col("cell_id")).agg(sum(col("n")).as("a"))
        .agg(sum(expr(s"cast(a as $dec) * (a - 1)")).as("t_i"),
          sum(col("a")).as("n_tot"), count(lit(1)).as("n_clusters"))
      val tj = cells.groupBy(col("label")).agg(sum(col("n")).as("b"))
        .agg(sum(expr(s"cast(b as $dec) * (b - 1)")).as("t_j"),
          count(lit(1)).as("n_classes"))
      ti.crossJoin(broadcast(tij)).crossJoin(broadcast(tj))
        .select(col("n_tot"), col("n_clusters"), col("n_classes"),
          (expr(s"((cast(n_tot as $dec) * (n_tot - 1) + 2 * t_ij - t_i - t_j)" +
            s" * 1000000) div (cast(n_tot as $dec) * (n_tot - 1))") / 1e6)
            .as("rand_index"))
    }),

    // SemDeDup (cluster-blocked semantic dedup): deterministic
    // nearest-centroid assignment as the blocking key, intra-cluster
    // round-6 cosine pairs at eps, drop every member with a MORE
    // CENTRAL epsilon-neighbor (centroid_sim desc, id asc dominance).
    "dedup_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDedup(emb, k = 8, eps = 0.3)
        .orderBy("vec_id")
    }),

    // The COMPLETE filtered serving chain: label filter in the join key
    // -> IVF probe -> ADC shortlist (kAdc=15) -> exact cosine rerank of
    // only the shortlisted raw vectors.
    "ann_filtered_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.filteredIvfPqRerankTopK(emb, emb.filter(col("vec_id") < 10),
          5, kAdc = 15, filterCol = "label", numCells = 16, nProbe = 6,
          numSub = 16, numCodes = 32, dim = 64)
        .orderBy("q_id", "rank")
    }),

    // Two-stage retrieve-then-rerank: PQ/ADC shortlist (kAdc=30), exact
    // round-6 cosine re-rank of only the shortlisted vectors.
    "ann_pq_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqRerankTopK(emb, emb.filter(col("vec_id") < 10), 10, kAdc = 30,
          numSub = 16, numCodes = 32, dim = 64)
        .orderBy("q_id", "rank")
    }),

    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Array-function battery over the words column — distinct/sort/
    // membership/position/slice. Both engines use 1-based positions
    // with 0 for "absent" (verified, not assumed), so array_position
    // grades directly.
    "text_array_funcs" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("l"))
        .select(col("doc_id"),
          size(array_distinct(col("l"))).cast("long").as("n_distinct"),
          element_at(sort_array(col("l")), 1).as("first_word"),
          array_contains(col("l"), "the").as("has_the"),
          array_position(col("l"), "the").as("pos_the"),
          concat_ws(" ", slice(col("l"), 2, 3)).as("mid_words"))
        .orderBy("doc_id")),

    // BPE segmentation under a FIXED literal merge list, graded exactly:
    // rank-ordered chained replacement with fresh placeholder symbols is
    // provably the same leftmost-non-overlapping greedy semantics the
    // native BpeEncode expression implements, so DuckDB can replay the
    // token counts bit-for-bit. (Corpus-TRAINED merges stay spec-only —
    // the training loop is not one SQL query; see TextAnalysis.bpeTrain.)
    "text_bpe" -> ((s, dir) =>
      TextAnalysis.bpeEncode(Tables.documents(s, dir), "doc_id", "text",
          FixedBpeMerges)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          length(concat_ws("", col("tokens"))).cast("long").as("n_chars_sq"))
        .orderBy("doc_id")),

    // The distributed BPE TRAINER, graded: run the real per-round
    // argmax + resegment loop over a fixed literal corpus (sfDir-
    // independent — the loop is not one SQL query, so the oracle cannot
    // replay it from parquet) and hash the learned merge table against
    // literals produced by an INDEPENDENT sequential implementation of
    // the same greedy semantics (bpeReferenceMerges below — plain Scala
    // collections, no Spark, so it cannot share a bug with the
    // aggregation-based trainer). Closes the trainer's spec-only gap.
    "text_bpe_train" -> ((s, _) => {
      import s.implicits._
      val corpus = bpeTrainCorpus.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      TextAnalysis.bpeTrain(corpus, "text", numMerges = 10, minFreq = 2)
        .toDF("merge_rank", "l", "r", "merged", "freq")
        .orderBy("merge_rank")
    }),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // The documented Gopher rule battery (Rae et al. 2021 Table A1):
    // per-rule measurements + combined pass verdict, all round-4
    // engine-portable; fixture median is 56 words so the default
    // 50-word floor genuinely splits the corpus.
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Gopher/C4-style repetition signals: duplicate-word, top-word and
    // duplicate-bigram ratios — pure per-doc array math, no shuffle.
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Self-trained bigram LM fluency score (the CCNet/RedPajama
    // perplexity filter, with the corpus as its own model): mean
    // ln(c(head)/c(bigram)) per doc, integer e4 units through the sum.
    "text_lm_score" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc")),

    // Code-vs-prose detection — the router every mixed crawl runs
    // before tokenization (code goes to the code pipeline, prose to the
    // text one): symbol density, keyword hits, and indented-line share,
    // combined into an exact micro score with an integer-compared
    // verdict. The keyword counter is written as the IDIOMATIC
    // size(filter(words, x IN (...))) — the exact pattern the
    // RewriteCountInSet optimizer rule upgrades to the native codegen
    // expression when the graft extensions are active, and evaluates
    // identically without them (rule is semantics-preserving — this
    // graded query pins that). All ratios are floor divisions; the
    // verdict can never flip on a float ulp.
    "text_code_detect" -> ((s, dir) => {
      // PLANTED code blocks: the prose fixture carries no code signal
      // at all (zero symbols/keywords/indents — the classifier would
      // grade vacuously), so every 5th doc gets a deterministic code
      // tail the oracle replays. The classifier must then separate
      // exactly the planted 20%.
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\ndef f(x):\n  return (x + 1);\n" +
              "  var y = {x};\n  public void g() { y = x; }")))
            .otherwise(col("text")).as("text"))
      docs.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[{}();=<>\\[\\]]", "")))
            .cast("long").as("n_syms"),
          expr("cast(size(filter(split(lower(trim(text)), '\\\\s+')," +
            " x -> x IN ('class', 'def', 'function', 'import', 'public'," +
            " 'return', 'var', 'void'))) as bigint)").as("kw_hits"),
          expr("cast(size(filter(split(text, '\\n'), x -> x like '  %'))" +
            " as bigint)").as("n_indent"),
          expr("cast(size(split(text, '\\n')) as bigint)").as("n_lines"))
        .select(col("doc_id"), col("n_syms"), col("kw_hits"), col("n_indent"),
          (expr("(n_syms * 1000000) div n_chars") + col("kw_hits") * 50000L +
            expr("((n_indent * 1000000) div n_lines) div 4")).as("score_micro"))
        .select(col("doc_id"), col("n_syms"), col("kw_hits"), col("n_indent"),
          (col("score_micro") / 1e6).as("code_score"),
          (col("score_micro") >= 80000L).as("is_code"))
        .orderBy("doc_id")
    }),

    // Multi-phrase blocklist scan — the curation primitive behind
    // banned-phrase filters and policy audits, done as a JOIN instead
    // of a per-row regex alternation: the corpus explodes once into
    // positional word bigrams and meets the phrase table on an
    // equi-key, so 10 or 10,000 phrases cost the same corpus pass
    // (the scaled-out shape of Aho–Corasick: broadcast the pattern
    // set, stream the corpus). Occurrences count per (doc, phrase) —
    // overlapping matches included, exact counts. Only docs with ≥1
    // hit emit (the audit row set).
    "text_phrase_scan" -> ((s, dir) => {
      val phrases = Seq("the customer", "slow query", "hash join",
        "of the", "join the")
      val bigramsExpr = TextFunctions.bigramsExpr()
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("__w"))
        .filter(size(col("__w")) >= 2)
        .select(col("doc_id"), explode(expr(bigramsExpr)).as("phrase"))
      val pl = broadcast(s.createDataset(phrases)(
        org.apache.spark.sql.Encoders.STRING).toDF("phrase"))
      bg.join(pl, "phrase")
        .groupBy(col("doc_id"), col("phrase"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id", "phrase")
    }),

    // Eval-set construction end-to-end: leak-proof test split →
    // decontamination against the train shingle universe → fixed
    // per-source quota — the "build me a clean benchmark slice"
    // composition.
    "pipeline_eval_set" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val split = Sampling.splitAssign(docs, "doc_id")
      // fixture docs share a small vocabulary, so the shingle overlap
      // floor is ~0.4 — 0.6 is the discriminating threshold here
      val lowContam = Dedup.crossSplitContamination(split, "doc_id", "text", "split")
        .filter(col("contamination") <= 0.6)
        .select(col("doc").as("doc_id"))
      val eval = split.filter(col("split") === "test")
        .join(lowContam, Seq("doc_id"), "left_semi")
      Sampling.quotaSample(eval, "doc_id", "source", k = 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy(col("source"))
    }),

    // Corpus-level term statistics: global top-20 terms by occurrence
    // with document frequency — explode + two-phase hash aggregation +
    // TakeOrderedAndProject (never a global sort of the term table).
    "text_topterms" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.words(col("text"))).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occurrences").desc, col("word"))
        .limit(20)),

    // RAKE keyphrase extraction: candidate phrases are maximal stopword-
    // free word runs (gaps-and-islands over word positions: island id =
    // pos − row_number, one window per doc partition — the sessionize
    // shuffle shape); word degree/frequency scores aggregate over phrase
    // members (shuffle on word), and the per-phrase score sums EXACT
    // integer micro-units ((deg·10⁶) div freq), so no double-sum order
    // can perturb the ranking. Output: top-20 phrases by score.
    "text_keyphrase" -> ((s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir), "doc_id", "text")),

    // PMI-scored bigram collocations — the phrase-mining pass that finds
    // word pairs co-occurring far above chance ("new york"-style units a
    // tokenizer should learn). Adjacent pairs come from ONE pass over the
    // words array (no self-join of the exploded form); bigram and unigram
    // counts are both partial-aggregable HashAggregates shuffled on their
    // word keys, and the two unigram joins run AFTER the min-count filter
    // has cut the bigram table to the interesting tail. The size(l) >= 2
    // guard dodges Spark's descending sequence(1, 0) pitfall.
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text")),

    // Readability scoring (Flesch reading ease + Flesch–Kincaid grade)
    // with a vowel-group syllable heuristic — the classic curriculum /
    // audience-targeting signal. Pure per-row codegen projections: the
    // sentence split, word array, and syllable fold never leave the row,
    // so the operator runs at scan speed with zero shuffle at any scale.
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Per-source lexical diversity: type/token ratio and hapax-legomenon
    // share — the vocabulary-health metrics of a corpus mix. Two stacked
    // partial-aggregable HashAggregates (shuffle on (source, word), then
    // on source); the division runs once per source on exact longs.
    "text_lexical_diversity" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"),
          explode(TextFunctions.words(col("text"))).as("word"))
        .groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("source"))
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)
            .as("ttr"),
          round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
            .as("hapax_ratio"))
        .orderBy("source")),

    // Per-source distribution drift: Jensen–Shannon divergence between
    // each source's unigram distribution and the corpus distribution —
    // the mixture-health diagnostic that flags a source whose vocabulary
    // departed from the blend. The |vocab| × |sources| expansion is the
    // honest cost of the zero-term rows (a corpus word ABSENT from a
    // source still contributes its q-side term); both factors are
    // bounded (vocabulary, not documents), and every aggregate is
    // partial-aggregable. Natural log on both engines. The per-word
    // terms quantize to exact PICO-units (1e-12) before the sum — a
    // raw sum(double) is aggregation-order-dependent and round(·, 6)
    // can flip on the disagreement (the r6 graph_modularity trap);
    // the pico BIGINT sum is associative and bounded (JSD ≤ ln 2 ⇒
    // Σ ≤ 7e11 at ANY corpus scale), and the final 6-decimal rounding
    // is integer HALF_UP so no engine round() kernel sees a boundary.
    "text_js_divergence" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("source"), explode(TextFunctions.words(col("text"))).as("word"))
      val sw = tok.groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      val stot = sw.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
      val cw = sw.groupBy(col("word")).agg(sum(col("c")).as("cc"))
      val ctot = cw.agg(sum(col("cc")).as("n_c"))
      val sources = stot.select(col("source"), col("n_s"))
      val expanded = cw.crossJoin(broadcast(sources))
        .join(sw, Seq("source", "word"), "left")
        .crossJoin(broadcast(ctot))
        .withColumn("p", coalesce(col("c"), lit(0L)).cast("double") / col("n_s"))
        .withColumn("q", col("cc").cast("double") / col("n_c"))
        .withColumn("m", (col("p") + col("q")) / 2)
        .withColumn("term",
          when(col("p") > 0, col("p") * log(col("p") / col("m")) / 2).otherwise(0.0) +
            col("q") * log(col("q") / col("m")) / 2)
        .withColumn("pico", round(col("term") * 1e12, 0).cast("long"))
      expanded.groupBy(col("source"))
        .agg(sum(col("pico")).as("jsd_pico"),
          count(when(col("c").isNotNull, 1)).as("n_shared_vocab"),
          first(col("n_s")).as("n_tokens"))
        .select(col("source"),
          (expr("(jsd_pico + 500000) div 1000000") / 1e6).as("jsd"),
          col("n_shared_vocab"), col("n_tokens"))
        .orderBy("source")
    }),

    // ε-differential-privacy SHAPE: Laplace-noised group counts via the
    // inverse-CDF transform of a uniform DERIVED FROM THE GROUP KEY's
    // md5 (48-bit prefix / 2^48). The hash-seeded uniform makes the
    // mechanism exactly replayable for grading — REAL privacy requires a
    // CSPRNG draw per release in its place; everything else (sensitivity
    // 1 counts, b = 1/ε scale, the noisy-release shape) is the
    // production mechanism. Runs entirely on the post-aggregation group
    // table (|sources|×|langs| rows).
    "data_dp_noise" -> ((s, dir) => {
      val b = 1.0 // sensitivity 1 / epsilon 1
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
        .withColumn("u",
          expr("cast(conv(substr(md5(concat(source, '|', lang)), 1, 12), 16, 10) as double)")
            / lit(281474976710656.0))
        .withColumn("noise",
          lit(-b) * signum(col("u") - 0.5) *
            log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
        .select(col("source"), col("lang"), col("n"),
          round(col("noise"), 6).as("noise"),
          round(col("n") + col("noise"), 6).as("noisy_n"))
        .orderBy("source", "lang")
    }),

    // Character-entropy quality signal as ONE native codegen projection
    // (plans.CharStats): code-point count, distinct code points, and
    // log2 Shannon entropy in a single pass — no per-character explode,
    // no shuffle before the final order. The oracle pays the explode
    // (unnest + entropy() aggregate); the Spark side must not.
    "text_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.plans.CharStats(col("text")).as("cs"))
        .select(col("doc_id"), col("cs.chars").as("chars"),
          col("cs.uniq_chars").as("uniq_chars"),
          round(col("cs.entropy"), 4).as("entropy"))
        .orderBy("doc_id")),

    // PII scrubbing: URLs / emails / phone-like runs replaced by typed
    // placeholders. The fixture text carries no PII, so deterministic
    // synthetic PII (derived from fixture columns, identically in both
    // engines) is appended first — the regexes are then exercised
    // against real matches, not vacuously.
    "text_redact" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("txt",
        concat(col("text"),
          lit(" contact "), col("source"), lit("-"),
          col("doc_id").cast("string"), lit("@example.com via https://"),
          col("lang"), lit(".example.org/d/"), col("doc_id").cast("string"),
          lit(" tel +1 (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextAnalysis.redactPii(d, "doc_id", "txt")
        .select(col("doc_id"), col("n_urls"), col("n_emails"), col("n_phones"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Vocabulary growth (Heaps'-law curve): per word, the FIRST document
    // (one partial-aggregable min over the exploded words), bucketed
    // into corpus deciles by doc id; new-type counts per decile plus the
    // cumulative vocabulary — everything after the word-level min is a
    // 10-row table (the dimension-sized window is bounded by the decile
    // count, never the data). Sub-linear growth of cum_vocab is the
    // expected Heaps shape; a flat line means the corpus stopped adding
    // types — the diversity-exhaustion signal for data sourcing.
    "text_vocab_growth" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val maxId = docs.agg(max(col("doc_id")).as("mx"))
      val toks = docs
        .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val tokensPer = toks.crossJoin(broadcast(maxId))
        .select(expr("least(9, (doc_id * 10) div (mx + 1))").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_tokens"))
      val typesPer = toks
        .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(maxId))
        .select(expr("least(9, (first_doc * 10) div (mx + 1))").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
      val w10 = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tokensPer.join(typesPer, Seq("decile"), "left")
        .select(col("decile"), col("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w10))
        .withColumn("cum_vocab", sum(col("new_types")).over(w10))
        .orderBy("decile")
    }),

    // Per-SOURCE PII prevalence — the release-audit rollup a curation
    // pipeline runs before shipping a source: same planted-PII corpus
    // and regexes as text_redact, aggregated to docs-affected counts
    // and rates per source. One codegen regexp_count projection + one
    // partial-aggregable rollup; the per-doc redaction never runs.
    "text_pii_audit" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("txt",
        concat(col("text"),
          lit(" contact "), col("source"), lit("-"),
          col("doc_id").cast("string"), lit("@example.com via https://"),
          col("lang"), lit(".example.org/d/"), col("doc_id").cast("string"),
          lit(" tel +1 (555) 010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      d.select(col("source"),
          regexp_count(col("txt"), lit(TextAnalysis.UrlPattern)).as("u"),
          regexp_count(col("txt"), lit(TextAnalysis.EmailPattern)).as("e"),
          regexp_count(col("txt"), lit(TextAnalysis.PhonePattern)).as("p"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("u")).as("n_urls"), sum(col("e")).as("n_emails"),
          sum(col("p")).as("n_phones"),
          sum(when(col("u") + col("e") + col("p") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"))
        .withColumn("pii_rate",
          round(col("docs_with_pii").cast("double") / col("n_docs").cast("double"), 6))
        .orderBy("source")
    }),

    // Per-document top-3 terms by smoothed TF-IDF — the relevance
    // ranking a retrieval/quality pipeline derives from the same
    // (doc, word) counts the repetition filters use.
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 3)
        .orderBy("doc", "rank")),

    // Okapi BM25 retrieval: top-20 docs for a fixed query-term bag;
    // per-term scores quantized to micro-units so the per-doc sum is
    // aggregation-order-independent (hash-gradeable).
    "text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25Search(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("join", "filter", "scan"), k = 20)
        .orderBy("rank")),

    // Exact heavy hitters (≥ 0.5% of all corpus words) via the two-pass
    // Misra-Gries sketch → exact-recount shape: bounded state at every
    // stage, exact output.
    "text_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), "doc_id", "text",
          supportDenom = 200, capacity = 400)
        .orderBy("word")),

    // C4-style cross-document boilerplate: 3-shingles occurring in >= 3
    // distinct docs are boilerplate; per doc, how much of its shingle
    // set is shared scaffolding vs content.
    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplateShingles(Tables.documents(s, dir), "doc_id",
          "text", minDocs = 3)
        .orderBy("doc")),

    // Exact duplicated-passage detection (Lee et al. substring dedup as
    // a distributed join): positions whose 3-gram recurs in another doc,
    // merged into consecutive runs — max_run+2 words = the longest
    // verbatim shared passage.
    "text_dup_spans" -> ((s, dir) =>
      TextAnalysis.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc")),

    // The output side of span dedup: words covered by cross-document
    // duplicated 3-grams are cut, the unique remainder survives in
    // order — graded on the kept-word count + cleaned-text md5.
    "text_span_removal" -> ((s, dir) =>
      TextAnalysis.removeDuplicatedSpans(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc")),

    // T5-style span corruption (the denoising-objective prep): mask every
    // 7th-word-aligned 2-word span, numbered sentinels in the input,
    // sentinel-delimited spans as the target. Sentinel ids come from a
    // CLOSED FORM (no window/running count), so the whole op is one
    // explode + one per-doc reassembly — embarrassingly parallel.
    "data_span_corrupt" -> ((s, dir) =>
      TextAnalysis.spanCorrupt(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc")),

    // Fractional-epoch mixture expansion: per-source epoch weights
    // (derived per src index; 0 drops, <1 downsamples, 2.x yields two
    // full copies + a hash-selected partial) turned into the actual
    // training stream with an epoch ordinal per copy.
    "data_epochs" -> ((s, dir) =>
      Sampling.epochExpand(Tables.documents(s, dir).select("doc_id", "source"),
          "doc_id", "source", epochConfig.toMap)
        .orderBy("doc_id", "epoch")),

    // Contrastive training-pair construction for embedding-model
    // training/distillation: anchors+positives are the REAL minhash
    // near-dup pairs; each pair gets 3 deterministic hash-derived
    // negatives, with collision-avoidance against the anchor/positive
    // (h, h+1, h+2 mod N — at most two can collide, so one is free).
    "data_contrastive" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      def m(c: Column): Column = pmod(c, lit(n))
      Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, numBands = 4, minEstimate = 0.5)
        .select(col("doc_a"), col("doc_b"),
          explode(array(lit(0L), lit(1L), lit(2L))).as("j"))
        .withColumn("__h", m(col("doc_a") * 31 + col("j") * 17))
        .withColumn("neg_id",
          when(col("__h") =!= col("doc_a") && col("__h") =!= col("doc_b"),
            col("__h"))
          .when(m(col("__h") + 1) =!= col("doc_a") &&
                m(col("__h") + 1) =!= col("doc_b"), m(col("__h") + 1))
          .otherwise(m(col("__h") + 2)))
        .select(col("doc_a").as("anchor"), col("doc_b").as("positive"),
          col("j"), col("neg_id"))
        .orderBy("anchor", "positive", "j")
    }),

    // Inverted-index materialization: term -> (df, first-20 postings),
    // exploded to rows because the driver compare hashes scalars. The
    // posting sample rides the bounded TopKLongs buffer (min-k via
    // negation), so hot terms never accumulate full posting lists.
    "text_postings" -> ((s, dir) =>
      TextAnalysis.invertedIndex(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("word", "rank")),

    // Hashed linear classifier inference (the fastText quality-filter
    // serving shape): token → md5 feature bucket → broadcast weight
    // join → exact BIGINT logit per doc. Weights are hash-derived
    // micro-unit integers, replayed row-for-row by the oracle.
    "text_quality_model" -> ((s, dir) =>
      TextAnalysis.hashedLinearScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Fixed-iteration PageRank over a deterministic synthetic link
    // graph (each doc links to three pmod-derived targets): five
    // rounds of EXACT integer micro-unit arithmetic, so the iterative
    // algorithm hash-matches an oracle that unrolls the same five
    // rounds. Both engines derive N from the data.
    "graph_pagerank" -> ((s, dir) => {
      Graph.pageRank(linkGraph(Tables.documents(s, dir)), iterations = 5)
        .orderBy("id")
    }),

    // Personalized PageRank from the SAME landmark set graph_bfs uses
    // (doc_id % 50 = 0): rank mass measures proximity to trusted
    // seeds, the seed-expansion companion of hop distance. Five rounds
    // of the exact micro-unit integer recurrence with restart mass
    // confined to the landmarks; the oracle unrolls the identical five
    // rounds.
    "graph_ppr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val edges = linkGraph(docs)
      val landmarks = docs.filter(col("doc_id") % 50 === 0)
      Graph.personalizedPageRank(edges, landmarks, iterations = 5,
          idCol = "doc_id")
        .orderBy("id")
    }),

    // Degree profile of the same synthetic link graph: out/in multi-edge
    // degrees plus distinct-neighbor counts — two partial-aggregable
    // groupBys and one full outer join, no expand (one distinct column
    // per aggregate).
    "graph_degrees" -> ((s, dir) => {
      Graph.degreeStats(linkGraph(Tables.documents(s, dir))).orderBy("id")
    }),

    // Synchronous label propagation over a block-ring community graph
    // (40-doc blocks, each doc linked to the next two in its ring): three
    // exact deterministic rounds — min-label tie-break makes the
    // heuristic replayable, and the oracle unrolls the identical
    // recurrence with a window argmax.
    "graph_label_prop" -> ((s, dir) => {
      Graph.labelPropagation(ringGraph(Tables.documents(s, dir)), iterations = 3)
        .orderBy("id")
    }),

    // Modularity Q = Σ_c (e_c/m − (d_c/2m)²) of the label-propagation
    // communities over the DISTINCT undirected edge set — the
    // partition-quality score that closes the community-detection loop
    // (propagate → score). Everything after the edge/degree aggregates
    // is |communities|-sized algebra with the edge total crossed back
    // by broadcast. House style: the per-community contribution is the
    // EXACT integer numerator 4·m·e_c − d_c² (decimal(38,0): at 100 TB
    // m≈1e12 the product 4·m·e_c≈4e24 overflows BIGINT but fits decimal
    // with room for a 1e6-community sum), summed associatively, with ONE
    // double division by 4m² at the end — so Spark's partition-dependent
    // partial-aggregate order and DuckDB's sequential sum land on the
    // identical IEEE double before round(…, 6).
    "graph_modularity" -> ((s, dir) => {
      val d = ringGraph(Tables.documents(s, dir))
      // labels feed TWO joins (endpoint a and endpoint b): checkpoint
      // the 3-round lineage once instead of replaying it per join arm.
      val labels = Graph.labelPropagation(d, iterations = 3).localCheckpoint()
      val ud = d.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      val m = ud.agg(count(lit(1)).as("m"))
      val e = d.select("src", "dst")
        .union(d.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .filter(col("src") =!= col("dst"))
      val deg = e.groupBy(col("src").as("nid")).agg(count(lit(1)).as("deg"))
      val ein = ud
        .join(labels.select(col("id").as("a"), col("label").as("la")), "a")
        .join(labels.select(col("id").as("b"), col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
      val dt = labels.join(deg, col("id") === col("nid"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
      val dec = "decimal(38,0)"
      val co = dt.join(ein, Seq("label"), "left").crossJoin(broadcast(m))
        .select(col("label"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"),
          col("m"),
          (lit(4).cast(dec) * col("m").cast(dec) *
            coalesce(col("e_in"), lit(0L)).cast(dec) -
            col("d_tot").cast(dec) * col("d_tot").cast(dec)).as("cnum"))
      val t = co.agg(sum(col("cnum")).as("qnum"))
      val denom = lit(4.0) * col("m").cast("double") * col("m").cast("double")
      // `+ 0.0` normalizes IEEE signed zero: a community whose cnum is a
      // tiny negative rounds to -0.0 under DuckDB's float round but +0.0
      // under Spark's BigDecimal HALF_UP round — numerically equal, but
      // the driver hashes doubles BIT-exactly, so -0.0 vs 0.0 is a
      // mismatch (the r7 red row). x + 0.0 is the identity for every
      // double except -0.0 → +0.0, and neither engine folds it away.
      co.crossJoin(broadcast(t))
        .select(col("label"), col("n_nodes"), col("e_in"), col("d_tot"),
          (round(col("cnum").cast("double") / denom, 6) + lit(0.0))
            .as("contrib"),
          (round(col("qnum").cast("double") / denom, 6) + lit(0.0))
            .as("modularity"))
        .orderBy("label")
    }),

    // Common-neighbor link prediction on the synthetic link graph:
    // wedge enumeration through degree-capped middles (cap 64 — far
    // above this graph's max degree, so the Jaccard here is exact),
    // then one groupBy per unordered pair.
    "graph_link_pred" -> ((s, dir) => {
      Graph.commonNeighbors(linkGraph(Tables.documents(s, dir)), degCap = 64)
        .orderBy("a", "b")
    }),

    // Multi-source BFS over the same synthetic link graph: hop distance
    // from the nearest landmark (doc_id % 50 = 0) within 8 rounds of
    // frontier relaxation. The oracle's recursive CTE explores
    // (node, dist) pairs with the same dist < 8 cap, so both sides
    // compute min path length ≤ 8 exactly; unreached nodes are absent
    // from both.
    "graph_bfs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val edges = linkGraph(docs)
      val sources = docs.filter(col("doc_id") % 50 === 0)
      Graph.bfsDistance(edges, sources, rounds = 8, idCol = "doc_id")
        .orderBy("node")
    }),

    // k-core decomposition (4 fixed peel rounds, k = 8) — the standard
    // "dense enough to matter" subgraph extraction (spam-farm
    // detection, influence cores). The graph is the synthetic 3N-edge
    // link graph with a PLANTED dense community: docs 0–39 additionally
    // link to their next 5 ring neighbors, so the 8-core is exactly
    // that community (degree ~10 internally) while the ~6-regular bulk
    // peels away — the query must both find the core and discard
    // everything else. Peel converges in 2 rounds here; 4 rounds give
    // slack. The oracle unrolls the identical peel as a CTE chain, so
    // a dropped or spared node in ANY round hash-mismatches.
    "graph_kcore" -> ((s, dir) => {
      Graph.kCore(plantedCore(Tables.documents(s, dir)), k = 8, rounds = 4)
        .orderBy("id")
    }),

    // 4-truss over the same planted graph — the EDGE-grained core: an
    // edge survives iff ≥ 2 triangles support it in the surviving
    // subgraph, peeled 3 rounds. The planted 0–39 ring-of-5 community
    // is triangle-dense (consecutive ring offsets close wedges), while
    // the multiplicative bulk ring closes almost none — so the truss
    // isolates the community by SUPPORT where kcore isolated it by
    // degree, and star-shaped degree padding that would fool the core
    // cannot fool the truss. The oracle unrolls the identical
    // support-count-then-filter rounds; the final row set reports
    // support WITHOUT re-filtering (the kCore reporting convention), so
    // a premature or missed peel in any round hash-mismatches.
    "graph_ktruss" -> ((s, dir) => {
      Graph.kTruss(plantedCore(Tables.documents(s, dir)), k = 4, rounds = 3)
        .orderBy("a", "b")
    }),

    // Degree distribution in log₂ buckets — the power-law audit run on
    // every crawl/link graph before trusting degree-based heuristics
    // (hub caps, PageRank damping): bucket = ⌊log₂ deg⌋ + 1 computed
    // EXACTLY as length(bin(deg)) — a string-length integer, no libm
    // log2 edge. The generator here is the HEAVY-TAILED reciprocal map
    // dst = n div (u + 1) (u uniform): node n div m collects in-links
    // from a Θ(n/m²)-sized preimage, so degrees span ~log₂ n buckets —
    // a near-regular graph would collapse the histogram to one row and
    // grade nothing. Shape: one symmetrized distinct + one degree
    // count + one bucket rollup, all partial-aggregable; output bounded
    // by 64 buckets at any scale.
    "graph_degree_hist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val n = docs.count()
      val d = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .select(col("src"),
          expr(s"$n div (pmod(src * 7 + k * 13, $n) + 1)").as("dst"))
      val e = d.select("src", "dst")
        .union(d.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
      e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(length(bin(col("deg"))).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
          max(col("deg")).as("max_deg"), sum(col("deg")).as("sum_deg"))
        .orderBy("bucket")
    }),

    // Directed-graph reciprocity — the share of links that are
    // mutual, the citation-ring / follow-back signal (a crawl graph
    // with high reciprocity is link-farm-shaped; organic web graphs sit
    // near 0). Edge (a,b) is reciprocated iff (b,a) exists: ONE
    // self-join of the distinct directed edge set on the swapped key
    // pair, then exact counts and one micro floor division. Shape: two
    // shuffles of the |E|-sized edge set (distinct + the swap join),
    // both partial-aggregable — no per-node state, no windows.
    "graph_reciprocity" -> ((s, dir) => {
      val e = linkGraph(Tables.documents(s, dir))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val recip = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
        .select(col("n_edges"), col("n_recip"),
          (expr("(n_recip * 1000000) div n_edges") / 1e6).as("reciprocity"))
    }),

    // HyperBall neighborhood function N(t) = Σ_v |B(v,t)| over the
    // synthetic link graph (3 rounds): per-node HLL sketches merged
    // along out-edges — THE web-scale reachability/effective-diameter
    // algorithm (exact all-pairs BFS is |V|·|E|; this is rounds·|E|
    // with register-max merges that are bit-identical under any
    // partitioning). Per-node estimates quantize to micro-unit BIGINTs
    // before the total, so every reported value is an exact integer
    // the oracle replays register-for-register.
    "graph_hyperball" -> ((s, dir) => {
      Graph.hyperBall(linkGraph(Tables.documents(s, dir)), rounds = 3)
        .orderBy("t")
    }),

    // Interpolated effective diameter — the HyperANF/HADI headline
    // number ("90% of reachable pairs are within d_eff hops"; the
    // famous four-degrees-of-separation measurement): the first round
    // t with N(t) ≥ 0.9·N(rmax), linearly interpolated between N(t−1)
    // and N(t). Everything up to the final division is exact integer
    // algebra on hyperBall's micro-unit totals (cur·10 ≥ nmax·9
    // comparisons, 9·nmax − 10·prev numerator); the lag window runs
    // over the rounds-sized table (4 rows), never the data.
    "graph_effective_diameter" -> ((s, dir) => {
      val nb = Graph.hyperBall(linkGraph(Tables.documents(s, dir)), rounds = 3)
      val mx = nb.agg(max(col("sum_ball_micro")).as("nmax"))
      val w = Window.orderBy("t")
      val x = nb.select(col("t"), col("sum_ball_micro").as("cur"))
        .withColumn("prev", lag(col("cur"), 1).over(w))
      x.crossJoin(broadcast(mx))
        .filter(col("cur") * 10 >= col("nmax") * 9)
        .orderBy("t").limit(1)
        .select(col("t").as("t_reached"),
          round(when(col("t") === 0, lit(0.0))
            .otherwise((col("t") - 1) +
              (lit(9L) * col("nmax") - lit(10L) * col("prev")).cast("double") /
                (lit(10L) * (col("cur") - col("prev"))).cast("double")), 6)
            .as("effective_diameter"))
    }),

    // Harmonic closeness centrality from the PER-NODE HyperBall
    // trajectory (Boldi–Vigna "In-Core Computation of Geometric
    // Centralities": the same register evolution that yields the
    // neighborhood function yields each node's centrality for free):
    // |B(v,t)| − |B(v,t−1)| nodes sit at distance t, each contributing
    // 1/t. Shares the identical register evolution with
    // graph_hyperball (hyperBall's totals ARE this view's groupBy).
    // Exactness: per-node per-round estimates are the exact quantized
    // micro-BIGINTs; the ball deltas and the per-term floor divisions
    // (pmod-subtraction — div ≡ floor even if a quantized estimate
    // ever dipped across the small-range branch seam) stay in integer
    // algebra, so harmonic_micro is exact and the only doubles are
    // final /1e6 displays. Shape: rounds × (edge join + register max),
    // then ONE pivot-by-t groupBy over the (node, round) table —
    // no window, no spine.
    "graph_closeness" -> ((s, dir) => {
      Graph.hyperBallPerNode(linkGraph(Tables.documents(s, dir)), rounds = 3)
        .groupBy(col("id"))
        .agg(
          sum(when(col("t") === 0, col("est_micro")).otherwise(0L)).as("b0"),
          sum(when(col("t") === 1, col("est_micro")).otherwise(0L)).as("b1"),
          sum(when(col("t") === 2, col("est_micro")).otherwise(0L)).as("b2"),
          sum(when(col("t") === 3, col("est_micro")).otherwise(0L)).as("b3"))
        .select(col("id"),
          (col("b1") / 1e6).as("ball1"),
          (col("b2") / 1e6).as("ball2"),
          (col("b3") / 1e6).as("ball3"),
          ((col("b1") - col("b0") +
            expr("((b2 - b1) - pmod(b2 - b1, 2)) div 2") +
            expr("((b3 - b2) - pmod(b3 - b2, 3)) div 3")) / 1e6)
            .as("harmonic"))
        .orderBy("id")
    }),

    // Corpus-overlap audit via sketch SET ALGEBRA — the "how much of
    // corpus B is already in corpus A" question every data-mixing
    // decision needs, answered without ever joining the two shingle
    // sets: per-segment HLL registers over the 48-bit shingle hashes
    // (one corpus pass, ≤256 rows of state per segment), the UNION
    // sketch as a bucketwise register max (the defining HLL merge —
    // idempotent/commutative, so any partitioning computes the same
    // registers), and the intersection by inclusion–exclusion on the
    // micro-unit estimates — exact BIGINT algebra after the two
    // single-division finalizes. Exact distinct counts ride along
    // (two-phase expand) so the output exhibits the sketch error it
    // is promising to stay inside. At 100 TB the exact legs would be
    // the expensive half; the sketch half's state is 256 longs per
    // corpus regardless of scale.
    "text_corpus_overlap" -> ((s, dir) => {
      val docs = Spread.forCompute(
          Tables.documents(s, dir).select(col("source"), col("text")))
        .select(when(pmod(expr("cast(substring(source, 4, 10) as int)"),
            lit(2)) === 0, lit("even_sources"))
            .otherwise(lit("odd_sources")).as("seg"),
          TextFunctions.words(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
      val keyed = docs.select(col("seg"), explode(ShingleHashes(col("w"))).as("k"))
      // registers feed three consumers (per-seg finalize, union merge,
      // and nothing else recomputes the corpus): materialize the ≤512
      // rows once instead of re-scanning documents per consumer.
      val regs = Sketches.hllRegisters(keyed, "seg", col("k")).localCheckpoint()
      val per = Sketches.hllEstimateMicro(regs, "seg")
      val perRow = per.groupBy()
        .agg(max(when(col("seg") === "even_sources", col("est_micro")))
            .as("est_even_micro"),
          max(when(col("seg") === "odd_sources", col("est_micro")))
            .as("est_odd_micro"))
      val uni = Sketches.hllEstimateMicro(
          regs.groupBy(col("bucket")).agg(max(col("mreg")).as("mreg"))
            .select(lit("u").as("seg"), col("bucket"), col("mreg")), "seg")
        .select(col("est_micro").as("est_union_micro"))
      val exact = keyed.groupBy(col("seg"))
        .agg(countDistinct(col("k")).as("ex"))
      val exactRow = exact.groupBy()
        .agg(max(when(col("seg") === "even_sources", col("ex"))).as("exact_even"),
          max(when(col("seg") === "odd_sources", col("ex"))).as("exact_odd"))
      perRow.crossJoin(broadcast(uni)).crossJoin(broadcast(exactRow))
        .select(col("est_even_micro"), col("est_odd_micro"),
          col("est_union_micro"),
          (col("est_even_micro") + col("est_odd_micro") -
            col("est_union_micro")).as("est_inter_micro"),
          ((col("est_even_micro") + col("est_odd_micro") -
            col("est_union_micro")).cast("double") /
            col("est_union_micro").cast("double")).as("est_jaccard"),
          col("exact_even"), col("exact_odd"))
    }),

    // HTML → text extraction over deterministically synthesized pages
    // (the fixture is plain text, so the query builds the HTML wrapper
    // identically in both engines): script/style/comment blocks drop
    // wholesale, tags strip, entities decode (&amp; last), whitespace
    // collapses.
    "text_html_strip" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style type=\"text/css\">p { color: red; }</style></head>"),
        lit("<body><!-- id="), id, lit(" -->"),
        lit("<h1>Title &amp; &quot;quotes&quot;</h1><p class=\"lead\">"),
        substring(col("text"), 1, 120),
        lit("</p><script>if (1 < 2) { x = \"&amp;\"; }</script>"),
        lit("<p>tail &lt;tag&gt; &#39;q&#39;&nbsp;end</p></body></html>"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.stripHtml(html).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")))
        .orderBy("doc_id")
    }),

    // C4-style corpus-level line dedup: the fixture text is single-line
    // word soup, so the query first synthesizes line structure (every
    // 6th space becomes a newline — the same regex in both engines),
    // then removes every line whose normalized form occurs > 2 times
    // corpus-wide and reassembles the survivors in order.
    "text_line_dedup" -> ((s, dir) =>
      TextAnalysis.lineDedup(
          Tables.documents(s, dir).select(col("doc_id"),
            regexp_replace(col("text"), "((?:\\S+ ){5}\\S+) ", "$1\n").as("text")),
          "doc_id", "text", maxOccurrences = 2)
        .orderBy("doc_id")),

    // Count-Min point-frequency estimates for the stopword list, graded
    // like q_approx_distinct: exact counts hash-checked, sketch sanity
    // (never undercounts; overcount <= 2n/width) as booleans the oracle
    // pins TRUE — if the sketch drifts, the booleans flip and the query
    // fails as a hash mismatch.
    "text_countmin" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(explode(TextFunctions.words(col("text"))).as("word"))
      val cm = udaf(new graft.functions.CountMin(1024, 4, countMinCandidates))
      val est = words.agg(cm(col("word")).as("m"))
        .select(explode(col("m")).as(Seq("word", "est")))
      val exact = words.filter(col("word").isin(countMinCandidates: _*))
        .groupBy(col("word")).agg(count(lit(1)).as("exact_count"))
      val total = words.agg(count(lit(1)).as("total"))
      est.join(exact, "word") // inner: candidates absent from the corpus drop out
        .crossJoin(broadcast(total))
        .select(col("word"), col("exact_count"),
          (col("est") >= col("exact_count")).as("never_underestimates"),
          (col("est") - col("exact_count") <= lit(2) * col("total") / lit(1024))
            .as("within_eps"))
        .orderBy("word")
    }),

    // Context-length chunking: overlapping 64-token windows (16-token
    // overlap), the step between curation and sequence packing. Graded
    // on (doc, chunk ordinal, chunk token count, chunk md5).
    "data_chunk" -> ((s, dir) =>
      TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"),
          md5(col("chunk_text")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")),

    // Z-order (Morton curve) clustering stats: events bucketed by the
    // top bits of interleave(user_id % 256, floor(value) % 256). The
    // graded per-bucket min/max spans ARE the locality proof: every
    // bucket covers a ≤32×32 rectangle of the 256×256 key space, so
    // file-level min/max stats prune range scans on EITHER dimension.
    "data_zorder" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("x", pmod(col("user_id"), lit(256L)))
        .withColumn("y", pmod(floor(col("value")).cast("long"), lit(256L)))
        .withColumn("z", Layout.zValue(col("x"), col("y"), 8))
      e.groupBy(expr("z div 1024").as("z_range"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy(col("z_range"))
    }),

    // Small-file compaction graded end-to-end: fragment the events table
    // into 16 files, compact to <=2 with Layout.compact (one shuffle-free
    // coalesce + write), read back — the oracle states bit-identical
    // content, so any row lost, duplicated, or value-mangled by the
    // rewrite flips the hash. File-count bounds are asserted in
    // StorageSpec (not SQL-expressible).
    "data_compact" -> ((s, dir) => {
      val frag = ParityQueries.ScratchDirs("graft-dc-frag")
      val out = ParityQueries.ScratchDirs("graft-dc-out")
      Tables.events(s, dir)
        .select("event_id", "user_id", "event_type", "value", "props")
        .repartition(16)
        .write.mode("overwrite").parquet(frag)
      Layout.compact(s, frag, out, targetFiles = 2)
      Tables.parquet(s, out).orderBy("event_id")
    }),

    // TIME TRAVEL graded — dataset reproducibility, the read-back-in-
    // time half q_upsert/data_compact were missing: a versioned
    // merge-on-read table (operators/TimeTravel: immutable manifests,
    // O(|delta|) upsert commits, one-max_by snapshot reads) takes two
    // upserts (v1: updates; v2: updates + an insert) and a compaction
    // (v3), then reads BACK version 1 after the later versions exist —
    // and version 3, which must be content-identical to v2 (compaction
    // is logically a no-op). Both snapshots are hash-graded against a
    // DuckDB replay of operations ≤ N; the in-code require proves the
    // post-compaction read planned over base files ONLY (read cost
    // reset — the point of compaction), not a re-merge of the chain.
    "q_time_travel" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-tt")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      // v1: update every even key (delta carries ONLY changed rows)
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit("U1").as("c_mktsegment"),
          (col("acctbal_cents") + 111).as("acctbal_cents")))
      // v2: update every third key (values from the BASE state — LWW
      // replaces the whole row) + insert one brand-new key
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), lit("U2").as("c_mktsegment"),
          (col("acctbal_cents") + 777).as("acctbal_cents"))
        .unionByName(s.range(1).select(lit(-1L).as("c_custkey"),
          lit("NEW").as("c_mktsegment"), lit(4242L).as("acctbal_cents"))))
      val v3 = TimeTravel.compact(s, root, "c_custkey")
      val asOf1 = TimeTravel.snapshot(s, root, 1L, "c_custkey")
      val asOf3 = TimeTravel.snapshot(s, root, v3, "c_custkey")
      require(asOf3.inputFiles.nonEmpty &&
          asOf3.inputFiles.forall(_.contains(f"base-$v3%05d")),
        "post-compaction snapshot must read the compacted base only")
      asOf1.withColumn("as_of", lit(1L))
        .unionByName(asOf3.withColumn("as_of", lit(3L)))
        .select("as_of", "c_custkey", "c_mktsegment", "acctbal_cents")
        .orderBy("as_of", "c_custkey")
    }),

    // VERSIONED DELETES graded — the takedown/right-to-erasure path
    // with the reproducibility contract intact: v1 tombstones every
    // fifth key (an O(|keys|) commit, no table rewrite), v2 upserts
    // every seventh — REVIVING the multiples of 35 (last-writer-wins
    // over a tombstone). The graded output reads BOTH versions back:
    // as-of 1 excludes the deleted keys; as-of 2 additionally carries
    // the upsert, including the revived keys with the upsert's values.
    // A delete that leaked into an earlier snapshot, a tombstone that
    // survived revival, or a tombstone column escaping into the output
    // schema all flip the hash. Physical erasure composes via vacuum
    // (graded separately): once retention passes the delete, the
    // pre-delete bytes are reclaimed.
    "q_time_travel_delete" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-ttd")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      TimeTravel.delete(root,
        c.filter(col("c_custkey") % 5 === 0).select("c_custkey"))
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey"), lit("U7").as("c_mktsegment"),
          (col("acctbal_cents") + 55).as("acctbal_cents")))
      val asOf1 = TimeTravel.snapshot(s, root, 1L, "c_custkey")
      val asOf2 = TimeTravel.snapshot(s, root, 2L, "c_custkey")
      asOf1.withColumn("as_of", lit(1L))
        .unionByName(asOf2.withColumn("as_of", lit(2L)))
        .select("as_of", "c_custkey", "c_mktsegment", "acctbal_cents")
        .orderBy("as_of", "c_custkey")
    }),

    // CHANGE DATA FEED graded — the table_changes(from, to) read the
    // lakehouse formats expose, here for free because the versioned
    // table's DELTA FILES are the change log (no snapshot diffing):
    // every row committed in (0, v3] tagged with its commit version
    // and a PER-COMMIT insert/update type PERSISTED AT COMMIT TIME
    // (each upsert runs one stats-pruned membership probe against its
    // own parent and writes the type into the delta file) — the key
    // inserted by v1 and updated again by v2 must tag insert THEN
    // update, the compaction inside the range must contribute NOTHING
    // (a content no-op is a change no-op), and the read itself must
    // touch the range's DELTA FILES ONLY (the in-code require below:
    // O(|range deltas|), never an O(|table|) snapshot probe — the
    // round-12 scale defect this closes). The consumer this feeds is
    // incremental downstream maintenance — re-embed only changed docs,
    // not the corpus.
    "q_table_changes" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-ttc")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      // v1: update evens + INSERT key -1
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit("U1").as("c_mktsegment"),
          (col("acctbal_cents") + 111).as("acctbal_cents"))
        .unionByName(s.range(1).select(lit(-1L).as("c_custkey"),
          lit("NEW").as("c_mktsegment"), lit(4242L).as("acctbal_cents"))))
      // v2: update thirds + UPDATE the v1-inserted key
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), lit("U2").as("c_mktsegment"),
          (col("acctbal_cents") + 777).as("acctbal_cents"))
        .unionByName(s.range(1).select(lit(-1L).as("c_custkey"),
          lit("NEW2").as("c_mktsegment"), lit(4343L).as("acctbal_cents"))))
      val v3 = TimeTravel.compact(s, root, "c_custkey")
      val feed = TimeTravel.changes(s, root, 0L, v3, "c_custkey")
      require(feed.inputFiles.nonEmpty &&
          feed.inputFiles.forall(_.contains("/delta-")),
        "the CDC read must plan over the range's delta files ONLY")
      feed.select(col("c_custkey"), col("c_mktsegment"), col("acctbal_cents"),
          col("_commit_version"), col("_change_type"))
        .orderBy("_commit_version", "c_custkey")
    }),

    // RETENTION graded — the other half of reproducibility (a 100 TB
    // estate cannot keep every version forever): the same
    // init → upsert → upsert → compact chain, then vacuum(keepFrom =
    // compaction version). The in-code requires prove the reclaim
    // actually happened (the pre-compaction base, both delta sets, and
    // the old manifests are GONE from disk) and that history below the
    // horizon fails loudly instead of returning something stale. The
    // hash grade then proves the reclaim was SAFE: the surviving
    // snapshot still equals the full DuckDB replay of all operations.
    "q_time_travel_vacuum" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-ttv")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit("U1").as("c_mktsegment"),
          (col("acctbal_cents") + 111).as("acctbal_cents")))
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), lit("U2").as("c_mktsegment"),
          (col("acctbal_cents") + 777).as("acctbal_cents")))
      val v3 = TimeTravel.compact(s, root, "c_custkey")
      TimeTravel.vacuum(root, keepFrom = v3)
      val left = new java.io.File(root).list().toSet
      require(left.size == 2 && left.contains(f"manifest-$v3%05d.txt") &&
          left.exists(_.startsWith(f"base-$v3%05d-")),
        s"vacuum left unexpected files: $left")
      val failedBelowHorizon =
        try { TimeTravel.snapshot(s, root, 1L, "c_custkey").count(); false }
        // ONLY the missing-manifest failure counts: an unrelated Spark
        // error must not masquerade as proof the vacuum reclaimed v1
        catch { case _: java.io.FileNotFoundException => true }
      require(failedBelowHorizon, "reads below the horizon must fail loudly")
      TimeTravel.snapshot(s, root, v3, "c_custkey")
        .select("c_custkey", "c_mktsegment", "acctbal_cents")
        .orderBy("c_custkey")
    }),

    // SCHEMA EVOLUTION graded — additive columns on the versioned
    // table, the lakehouse change a curation pipeline hits first (a new
    // quality score lands mid-corpus): v1's delta carries a column the
    // base lacks; the v1 snapshot shows it (null for every row whose
    // latest write predates the column — merge-on-read fills, no base
    // rewrite, no backfill job), while the v0 snapshot does NOT show
    // the column at all (in-code require: historical schemas are
    // immutable). Values hash-graded against the DuckDB replay.
    "q_schema_evolution" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-tts")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit("U1").as("c_mktsegment"),
          (col("acctbal_cents") + 111).as("acctbal_cents"),
          (col("c_custkey") % 5).as("quality")))
      require(!TimeTravel.snapshot(s, root, 0L, "c_custkey")
          .columns.contains("quality"),
        "a snapshot BEFORE the column was added must not show it")
      TimeTravel.snapshot(s, root, 1L, "c_custkey")
        .select("c_custkey", "c_mktsegment", "acctbal_cents", "quality")
        .orderBy("c_custkey")
    }),

    // POINT LOOKUP WITH FILE SKIPPING graded — every commit records its
    // file set's [min, max] key range in the manifest (stats gathered
    // from the written bytes, O(|delta|)); snapshotAt() prunes file
    // sets that CANNOT contain a queried key before the merge. The
    // chain here makes pruning observable: v1 inserts a DISJOINT high
    // key range (+1M), v2 updates low keys — a low-key point read must
    // plan over base + v2 ONLY (the in-code require: v1's file set
    // never enters the scan), while merge semantics stay exact (point
    // 42 wins from the base THROUGH the pruned chain, point 3 from
    // v2). At 100 TB this is the difference between a key lookup
    // reading GBs and reading the whole chain.
    "q_time_travel_point" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-ttp")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      // v1: a disjoint high-key insert wave (stats [1e6+1, 1e6+N])
      TimeTravel.upsert(root, c.select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        lit("HI").as("c_mktsegment"),
        (col("acctbal_cents") + 5).as("acctbal_cents")))
      // v2: update keys ending in 3 (stats back inside the base range)
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"), lit("P2").as("c_mktsegment"),
          (col("acctbal_cents") + 99).as("acctbal_cents")))
      val pt = TimeTravel.snapshotAt(s, root, 2L, "c_custkey",
        Seq(3L, 42L, 57L))
      require(pt.inputFiles.nonEmpty &&
          !pt.inputFiles.exists(_.contains("/delta-00001")),
        "stats pruning must skip the disjoint high-key file set")
      pt.select("c_custkey", "c_mktsegment", "acctbal_cents")
        .orderBy("c_custkey")
    }),

    // BUCKETED COMPACTION graded — file skipping INSIDE the base, not
    // just across deltas: compact(buckets = 8) key-range-buckets the
    // rewritten base (one repartitionByRange on the merge key — no
    // extra shuffle beyond the rewrite compaction already pays) and
    // records per-FILE min/max stats in the manifest, so a
    // post-compaction point lookup prunes to the bucket files that can
    // hold its keys. The in-code requires prove both halves: the new
    // base actually split (>= 4 files), and the three clustered low
    // keys read STRICTLY FEWER files than the full base. The hash
    // grade proves bucketing changed nothing semantically: the full
    // snapshot AND the point read both replay exactly in DuckDB. At
    // 100 TB this is the difference between a key lookup reading one
    // bucket and rescanning the compacted corpus.
    "q_time_travel_bucketed" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = ParityQueries.ScratchDirs("graft-ttb")
      val c = Tables.customer(s, dir).select(col("c_custkey").cast("long"),
        col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      TimeTravel.init(c, root, "c_custkey")
      TimeTravel.upsert(root, c.filter(col("c_custkey") % 10 === 3)
        .select(col("c_custkey"), lit("B1").as("c_mktsegment"),
          (col("acctbal_cents") + 77).as("acctbal_cents")))
      val v2 = TimeTravel.compact(s, root, "c_custkey", buckets = 8)
      val full = TimeTravel.snapshot(s, root, v2, "c_custkey")
      val baseFiles = full.inputFiles
      require(baseFiles.length >= 4 &&
          baseFiles.forall(_.contains(f"base-$v2%05d")),
        s"bucketed compaction must split the base: ${baseFiles.length} files")
      val pt = TimeTravel.snapshotAt(s, root, v2, "c_custkey",
        Seq(3L, 13L, 23L))
      require(pt.inputFiles.nonEmpty &&
          pt.inputFiles.length < baseFiles.length,
        s"per-file stats must prune buckets: ${pt.inputFiles.length} of " +
          s"${baseFiles.length} read")
      full.withColumn("part", lit("full"))
        .unionByName(pt.withColumn("part", lit("point")))
        .select("part", "c_custkey", "c_mktsegment", "acctbal_cents")
        .orderBy("part", "c_custkey")
    }),

    // INCREMENTAL INDEX MAINTENANCE graded — the consumer the change
    // feed exists for ("re-embed only changed documents"), closed
    // end-to-end: the embeddings corpus lives in the versioned table;
    // v1 re-embeds every 7th vector and inserts new ones, v2 takes
    // down every 11th. The maintained IVF assignment index is updated
    // from changes(0, 2) ALONE — net per-key effect via one max_by on
    // the feed, nearest-centroid reassignment of the non-deleted
    // survivors against the FIXED v0 seed centroids (broadcast, k×dim),
    // anti-join to retire stale index rows. The in-code require proves
    // the feed side never touches the corpus (delta files only) — cost
    // ∝ |changes|, not |corpus|. Hash-graded against a DuckDB FULL
    // REBUILD of the v2 state: incremental maintenance must be
    // indistinguishable from rebuilding the index from scratch.
    "pipeline_incremental_reindex" -> ((s, dir) => {
      import graft.operators.TimeTravel
      import graft.functions.VectorFunctions
      val root = ParityQueries.ScratchDirs("graft-reidx")
      val emb0 = Tables.embeddings(s, dir).select(
        col("vec_id").cast("long").as("vec_id"),
        VectorFunctions.asDouble(col("embedding")).as("embedding"))
      TimeTravel.init(emb0, root, "vec_id")
      // the index being maintained: fixed v0 seed centroids + the v0
      // full assignment (built once — the initial indexing job)
      val cent = Similarity.seedCentroids(emb0, 8)
      val idx0 = Similarity.assignToCentroids(emb0, cent)
      // v1: re-embed every 7th + insert a transformed copy of every
      // 13th under a fresh id; v2: take down every 11th
      TimeTravel.upsert(root, emb0.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> x * 0.5D + 0.01D)").as("embedding"))
        .unionByName(emb0.filter(col("vec_id") % 13 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            expr("transform(embedding, x -> 1.0D - x)").as("embedding"))))
      TimeTravel.delete(root,
        emb0.filter(col("vec_id") % 11 === 0).select("vec_id"))
      val feed = TimeTravel.changes(s, root, 0L, 2L, "vec_id")
      require(feed.inputFiles.nonEmpty &&
          feed.inputFiles.forall(_.contains("/delta-")),
        "incremental reindex must read the change feed, not the corpus")
      // net per-key effect of the range (a key re-embedded then taken
      // down nets to delete); reassign survivors, retire stale rows
      val net = feed.groupBy(col("vec_id"))
        .agg(expr("max_by(struct(embedding, _change_type), _commit_version)")
          .as("__n"))
        .select(col("vec_id"), col("__n.embedding").as("embedding"),
          col("__n._change_type").as("ct"))
      val reassigned = Similarity.assignToCentroids(
        net.filter(col("ct") =!= "delete").select("vec_id", "embedding"), cent)
      idx0.join(net.select("vec_id"), Seq("vec_id"), "left_anti")
        .unionByName(reassigned)
        .orderBy("vec_id")
    }),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "text_winnow" -> ((s, dir) =>
      TextAnalysis.winnowedFingerprints(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "fp")),

    // Deterministic hash-bucket sampling: membership is a pure function
    // of the key, reproducible across runs/partitionings/engines.
    "data_sample" -> ((s, dir) =>
      Sampling.sample(Tables.documents(s, dir), "doc_id", permille = 100)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),

    "data_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.events(s, dir), "event_id", "event_type",
          Map("click" -> 100, "error" -> 500, "purchase" -> 1000))
        .select("event_id", "event_type", "user_id")
        .orderBy("event_id")),

    // Train/val/test split assignment — leak-proof by construction.
    "data_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy(col("split"))),

    // GROUP-aware split (GroupShuffleSplit semantics): hashing the
    // GROUP key (source domain) instead of the row id puts every
    // document of a domain in the SAME split — the standard guard
    // against near-duplicate leakage across train/test (sibling pages
    // of one site are near-dups of each other). Graded as one row per
    // (source, split): a broken implementation that splits a group
    // across partitions of the data produces extra rows and fails the
    // row-count compare, not just the hash.
    "data_group_split" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "source")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"))),

    // Quality-weighted sampling: each doc keeps with probability
    // alpha_ratio (as a permille threshold against its hash bucket) —
    // higher-quality documents survive at a higher rate, membership
    // still a pure function of (key, weight).
    "data_weighted_sample" -> ((s, dir) => {
      val scored = TextAnalysis.quality(Tables.documents(s, dir), "doc_id",
        "text", passthrough = Seq("lang", "source"))
      Sampling.weightedSample(scored, "doc_id",
          expr("cast(round(alpha_ratio * 1000) as bigint)"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // Temperature-based (alpha = 1/2) source mixture: per-source
    // keep-rates flatten the natural source distribution (rate_i =
    // sqrt(min_tokens/tokens_i)); graded on the rates AND the resulting
    // deterministic per-source sample counts.
    "data_mixture_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("n_tokens", size(TextFunctions.words(col("text"))))
      val rates = Sampling.temperatureMixRates(docs, "source", "n_tokens")
      val kept = docs
        .join(broadcast(rates.select(col("source"), col("rate_ppm"))), "source")
        .filter(Sampling.bucketPpm("doc_id") < col("rate_ppm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"))
      rates.join(kept, Seq("source"), "left_outer")
        .orderBy("source")
    }),

    // Fixed-quota stratum sampling: exactly 20 docs per source by
    // deterministic hash order (vs data_stratified_sample's
    // proportional permille rates).
    "data_quota_sample" -> ((s, dir) =>
      Sampling.quotaSample(Tables.documents(s, dir), "doc_id", "source", k = 20)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Class rebalancing by OVERSAMPLING: every label replicates to an
    // integer factor = ⌊max count / count⌋ (explode of a per-row
    // sequence — the replication is a generator, never a driver loop or
    // self-union chain). Graded on per-label counts and an exact
    // replica-weighted checksum, so a wrong replication factor or a
    // dropped replica hash-fails.
    "data_oversample" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val counts = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
      val mx = counts.agg(max(col("n")).as("maxn"))
      val factor = counts.crossJoin(broadcast(mx))
        .select(col("label"), expr("maxn div n").as("factor"))
      emb.join(broadcast(factor), "label")
        .select(col("label"), col("vec_id"),
          explode(expr("sequence(1, cast(factor as int))")).as("rep"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_after"),
          sum(col("vec_id") * col("rep")).as("checksum"))
        .orderBy("label")
    }),

    // Class rebalancing by downsampling to the minority-label count:
    // per-label deterministic hash order, keep the first `target` rows
    // where target = min label size (broadcast 1-row aggregate). The
    // rank window partitions by label — as many partitions as labels
    // carry data; for few huge labels the md5 order key also serves as
    // a salt prefix if a per-label top-N heap (quotaSample) is needed.
    "data_label_balance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
      val target = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .agg(min(col("n")).as("target"))
      emb.withColumn("rk", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))))
        .crossJoin(broadcast(target))
        .filter(col("rk") <= col("target"))
        .select(col("label"), col("vec_id"))
        .orderBy("label", "vec_id")
    }),

    // Curriculum assignment: order the corpus easy→hard WITHOUT a global
    // sort. Difficulty is an exact integer blend of lexical complexity
    // (mean word length, milli-units) and document length; the three
    // quartile cut points come from ONE percentile aggregate broadcast
    // back, so stage assignment is a pure comparison projection — no
    // ntile window over all rows (the single-partition trap), no shuffle
    // of the corpus at any scale. The within-stage pacing key is the
    // engine-portable md5 bucket, giving each stage a deterministic
    // interleave into 16 training batches.
    "data_curriculum" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), TextFunctions.words(col("text")).as("l"))
        .select(col("doc_id"), size(col("l")).cast("long").as("n_words"),
          expr("aggregate(l, cast(0 as bigint), (acc, w) -> acc + length(w))")
            .as("n_wchars"))
        .select(col("doc_id"), col("n_words"),
          (floor(col("n_wchars") * 1000 / col("n_words")) + col("n_words"))
            .cast("long").as("difficulty"))
      val cuts = scored.agg(
        expr("percentile(difficulty, array(0.25D, 0.5D, 0.75D))").as("__c"))
        .select(col("__c").getItem(0).as("c1"), col("__c").getItem(1).as("c2"),
          col("__c").getItem(2).as("c3"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_words"), col("difficulty"),
          (lit(1) + when(col("difficulty") > col("c1"), 1).otherwise(0) +
            when(col("difficulty") > col("c2"), 1).otherwise(0) +
            when(col("difficulty") > col("c3"), 1).otherwise(0)).as("stage"),
          pmod(Sampling.bucketPpm("doc_id"), lit(16)).as("batch"))
        .orderBy("doc_id")
    }),

    // Round-robin source interleaving: any prefix of the emitted order
    // mixes all sources evenly — graded on the order itself (like
    // data_shuffle).
    "data_interleave" -> ((s, dir) =>
      Sampling.interleaveBySource(Tables.documents(s, dir), "doc_id", "source")
        .select(col("interleave_rank"), col("source"), col("doc_id"))),

    // Per-domain URL stats with blocklist filtering: deterministic
    // synthetic URLs appended from fixture columns (text_redact
    // pattern), hosts extracted by regex, banned domains anti-joined
    // away before the roll-up.
    "text_domains" -> ((s, dir) => {
      val d = Tables.documents(s, dir).withColumn("txt",
        concat(col("text"),
          lit(" see https://"), col("lang"), lit(".example.org/d/"),
          col("doc_id").cast("string"),
          lit(" and https://"), col("source"), lit(".example.net/p/"),
          col("doc_id").cast("string")))
      TextAnalysis.domainStats(d, "doc_id", "txt",
          blocklist = Seq("src0.example.net"))
        .orderBy("host")
    }),

    // Deterministic epoch shuffle: reproducible pseudo-random global
    // order from (seed, key) — the order IS the graded artifact.
    "data_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(Tables.documents(s, dir), "doc_id", seed = 42L)
        .select(col("shuffle_key"), col("doc_id"), col("source"))),

    // Token-budget sequence packing: per-bucket bins of ~2048 tokens,
    // graded on the per-bin roll-up.
    "data_pack" -> ((s, dir) =>
      Sampling.packTokens(
          Tables.documents(s, dir)
            .withColumn("n_tokens", size(TextFunctions.words(col("text")))),
          "doc_id", "n_tokens", budget = 2048L, numBuckets = 8)
        .groupBy(col("bucket"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("bucket"), col("bin"))),

    // Packing scoped per split (partitionCols): a bin never mixes
    // train/val/test; parallelism = |splits| × numBuckets.
    "data_pack_split" -> ((s, dir) =>
      Sampling.packTokens(
          Sampling.splitAssign(
            Tables.documents(s, dir)
              .withColumn("n_tokens", size(TextFunctions.words(col("text")))),
            "doc_id"),
          "doc_id", "n_tokens", budget = 2048L, numBuckets = 4,
          partitionCols = Seq("split"))
        .groupBy(col("split"), col("bucket"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("split"), col("bucket"), col("bin"))),

    // End-to-end curation pipeline — quality gate → exact dedup →
    // leak-proof split → per-split stats. Exercises operator COMPOSITION
    // (the library's whole point); every stage is hash-replayable. The
    // shape is ONE scan: quality rides the text through `passthrough`
    // (no join-back), dedup keeps survivor rows via a window (no
    // groupBy + re-join), so the only shuffles are the dedup window and
    // the final 3-group aggregation.
    // JSONL corpus leg — the de-facto LLM-corpus interchange format.
    // Write the documents table as JSONL, read it back schema-on-read
    // (EXPLICIT schema: no inference pre-pass — at 100 TB inference
    // doubles ingest cost), and grade the roundtrip against the parquet
    // original: any escaping/encoding lossiness in text would hash-fail.
    "ingest_jsonl" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jsonl_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).getPath
      docs.write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path).orderBy("doc_id")
    }),

    // ORC round-trip — the OTHER columnar format big estates carry
    // (Hive-era lakes are ORC); Spark's built-in vectorized ORC
    // reader/writer, graded column-for-column against the parquet
    // original so any type coercion or value corruption in the
    // format conversion flips the hash.
    "ingest_orc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_orc_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).getPath
      docs.write.mode("overwrite").orc(path)
      s.read.orc(path)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // XML ingest through Spark 4's native from_xml: order rows render to
    // XML documents in-query (concat projection — the "export feed" a
    // partner system would hand us), then parse back through the binary
    // XML path with an explicit schema and the typed fields are graded
    // against the columns the documents were built from. Money rides as
    // integer cents INSIDE the XML so the roundtrip is exact. The parse
    // is a per-row codegen-friendly projection — schema-on-read at scan
    // speed, no DOM materialization, nothing shuffles until the
    // presentation sort.
    "ingest_xml" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val o = Tables.orders(s, dir)
      val xml = o.select(col("o_orderkey"), concat(
        lit("<order><id>"), col("o_orderkey"),
        lit("</id><status>"), col("o_orderstatus"),
        lit("</status><priority>"), col("o_orderpriority"),
        lit("</priority><total_cents>"),
        floor(col("o_totalprice") * 100).cast("long"),
        lit("</total_cents></order>")).as("x"))
      val schema = new StructType()
        .add("id", LongType).add("status", StringType)
        .add("priority", StringType).add("total_cents", LongType)
      // Spread before the per-row from_xml parser (guide §2.5).
      Spread.forCompute(xml).select(from_xml(col("x"), schema).as("r"))
        .select(col("r.id").as("o_orderkey"), col("r.status").as("status"),
          col("r.priority").as("priority"), col("r.total_cents").as("total_cents"))
        .orderBy("o_orderkey")
    }),

    // Resilient ingest: corrupt JSONL records are QUARANTINED (PERMISSIVE
    // mode + _corrupt_record), never fatal and never silently dropped —
    // at 100 TB some shard always has a bad line, and both failure modes
    // (job death, silent loss) are unacceptable. Every 10th line is
    // deterministically truncated mid-object; the audit row proves the
    // good rows parse intact and the bad ones are all accounted for.
    "ingest_quarantine" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lines = docs.select(col("doc_id"),
          to_json(struct(docs.columns.toSeq.map(col): _*)).as("js"))
        .select(when(col("doc_id") % 10 === 0, expr("substring(js, 1, 10)"))
          .otherwise(col("js")).as("value"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jsonl_bad_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).getPath
      lines.write.mode("overwrite").text(path)
      val schema = org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ org.apache.spark.sql.types.StructField(
          "_corrupt_record", org.apache.spark.sql.types.StringType))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(count(lit(1)).as("n_total"),
          count(col("_corrupt_record")).as("n_quarantined"),
          count(col("doc_id")).as("n_good"),
          sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("good_chars"))
    }),

    // Avro container-file ingest — WITHOUT the spark-avro connector
    // (absent from the offline classpath, the Kafka-jar situation):
    // the Avro LIBRARY ships with Spark, so the read path decodes
    // container files inside mapPartitions over a binaryFile scan —
    // parallel by file, one DataFileStream codec context per payload
    // (the multimodal-decode contract; see sources/AvroIngest for the
    // block-splittable 100 TB note). Staged as FOUR deflate-coded
    // container files so the decode genuinely fans out; the roundtrip
    // is graded against the original table — any decode, codec, or
    // type-mapping defect flips the hash.
    "ingest_avro" -> ((s, dir) => {
      val path = ParityQueries.StagedInputs(s"$dir|customer|avro") { d =>
        val rows = Tables.customer(s, dir)
          .select(col("c_custkey").cast("long"), col("c_name"),
            col("c_nationkey").cast("long"),
            floor(col("c_acctbal") * 100).cast("long").as("ac"))
          .orderBy("c_custkey")
          .collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
          .toSeq
        val per = math.max(1, rows.length / 4 + 1)
        rows.grouped(per).zipWithIndex.foreach { case (g, i) =>
          graft.sources.AvroIngest.writeCustomerAvro(g,
            new java.io.File(d, f"part-$i%02d.avro"))
        }
        d
      }
      graft.sources.AvroIngest.readCustomerAvro(s, path)
        .orderBy("c_custkey")
    }),

    // BLOCK-SPLITTING Avro read graded — the 100 TB form ingest_avro's
    // scale note promises, now built (sources/AvroSplitSource): ONE
    // container file written with a small sync interval (hundreds of
    // deflate blocks), read through the AvroSplit DSv2 with a split
    // size far below the file length, so the single file plans as MANY
    // byte-range tasks (required > 1 in-code), each sync-aligning its
    // range start and decoding exactly the blocks that start inside it
    // — no row lost or doubled across any split boundary, which is
    // precisely what the roundtrip hash grades. Same oracle as
    // ingest_avro: the ORIGINAL table.
    "ingest_avro_split" -> ((s, dir) => {
      // split size scaled to the staged file (≈8 splits at any SF) so
      // the >1-task claim holds from the 150-row fixture up — a real
      // deployment passes a fixed 128 MiB
      val out = avroSplitRead(s, stagedCustomerAvro1File(s, dir))
      require(out.rdd.getNumPartitions > 1,
        "splittable-Avro claim not exercised: single file planned as one task")
      out.orderBy("c_custkey")
    }),

    // COLUMN-PRUNED split read graded: the same multi-block fixture,
    // projected to 2 of its 4 fields. The AvroSplit scan builder
    // implements SupportsPushDownRequiredColumns, so the projection
    // reaches the READER — only the requested fields are converted and
    // materialized per row (Avro is row-oriented: no I/O skip, but the
    // per-field decode and row width are real at a 50-field 100 TB
    // shard). The in-code require proves the plan's ReadSchema actually
    // narrowed (a regression to scan-then-project would still hash-pass,
    // so the plan shape itself is part of the grade).
    "ingest_avro_pruned" -> ((s, dir) => {
      val out = avroSplitRead(s, stagedCustomerAvro1File(s, dir))
        .select("c_custkey", "acctbal_cents")
        .orderBy("c_custkey")
      val scans = v2ReadSchemas(out)
      require(scans.nonEmpty &&
          scans.forall(_ == Seq("c_custkey", "acctbal_cents")),
        s"projection did not reach the AvroSplit scan: ReadSchema=$scans")
      out
    }),

    // NESTED-TYPE split read graded — embeddings-in-Avro, the array
    // shape a real LLM estate ships: the embeddings fixture
    // (vec_id, array<float>, label) roundtrips through ONE multi-block
    // Avro container file read as ~8 sync-aligned byte-range tasks,
    // then EXPLODES to (vec_id, idx, val) so every float is graded
    // bit-exactly against the parquet original (no arithmetic, no
    // rounding — a single element lost, reordered, or precision-bent
    // anywhere in the encode→block-split→decode chain flips the hash).
    "ingest_avro_embeddings" -> ((s, dir) => {
      val path = ParityQueries.StagedInputs(s"$dir|embeddings|avro-1file") { d =>
        val rows = Tables.embeddings(s, dir)
          .select(col("vec_id").cast("long"), col("embedding"),
            col("label").cast("int"))
          .orderBy("vec_id")
          .collect()
          .map(r => (r.getLong(0),
            r.getSeq[Float](1).toSeq, r.getInt(2)))
          .toSeq
        graft.sources.AvroIngest.writeEmbeddingAvro(rows,
          new java.io.File(d, "all.avro"), syncIntervalBytes = 2048)
        d
      }
      val out = avroSplitRead(s, path)
      require(out.rdd.getNumPartitions > 1,
        "splittable-Avro claim not exercised: single file planned as one task")
      out.select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("long").as("idx"),
          col("col").as("val"), col("label"))
        .orderBy("vec_id", "idx")
    }),

    // Fixed-width ingest — the mainframe/legacy-feed format that still
    // feeds real estates: documents rendered as 30-char records
    // (doc_id 12 zero-padded | lang 8 space-padded | n_chars 10
    // zero-padded), written as text, parsed back by POSITION with a
    // length gate quarantining short records (every 13th record is
    // deterministically truncated — the ingest must exclude exactly
    // those, never die, never silently keep a ragged row). The oracle
    // reads the ORIGINAL table minus the planted corruption, so any
    // off-by-one in the column positions or a swallowed bad record
    // flips the hash. Parsing is pure codegen substring/trim/cast —
    // scan speed.
    "ingest_fixed_width" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lines = docs.select(
        concat(lpad(col("doc_id").cast("string"), 12, "0"),
          rpad(col("lang"), 8, " "),
          lpad(col("n_chars").cast("string"), 10, "0")).as("rec"))
        .select(when(col("rec").substr(1, 12).cast("long") % 13 === 0,
          col("rec").substr(1, 17)).otherwise(col("rec")).as("value"))
      val path = ParityQueries.StagedInputs(s"$dir|documents|fixed-width") { d =>
        lines.write.mode("overwrite").text(d)
        d
      }
      s.read.text(path)
        .filter(length(col("value")) === 30)
        .select(col("value").substr(1, 12).cast("long").as("doc_id"),
          trim(col("value").substr(13, 8)).as("lang"),
          col("value").substr(21, 10).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Quoted-CSV round-trip — the robustness leg of CSV ingest: every
    // field value is ENRICHED with an embedded delimiter, quote, and
    // newline, written with quoteAll, read back with multiLine, and
    // graded (md5 + length) against the same enrichment applied to the
    // ORIGINAL table — any quoting/escaping/newline lossiness in the
    // write→read chain flips the hash. Scale note, stated not hidden:
    // quoted-newline CSV is NOT splittable (multiLine pins a file to a
    // task) — this ingest exists for interchange; the first thing a
    // 100 TB pipeline does with it is rewrite to parquet.
    "ingest_csv_quoted" -> ((s, dir) => {
      val enriched = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(", \"tricky\"\nline2,end")).as("text"))
      val path = ParityQueries.StagedInputs(s"$dir|documents|csv-quoted") { d =>
        enriched.write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true").csv(d)
        d
      }
      s.read.option("header", "true").option("multiLine", "true")
        .schema("doc_id LONG, lang STRING, text STRING")
        .csv(path)
        .select(col("doc_id"), col("lang"),
          md5(col("text")).as("text_md5"),
          length(col("text")).cast("long").as("n_chars_rt"))
        .orderBy("doc_id")
    }),

    // Schema evolution across corpus versions: v1 shards carry
    // (doc_id, text, lang), v2 shards added `source`/`n_chars` and
    // dropped `lang`. A long-lived corpus ALWAYS hits this; the
    // mergeSchema parquet read reconciles the union schema with nulls
    // for absent columns — graded column-for-column against the
    // original table (any silent column loss or misalignment fails).
    "ingest_schema_evolution" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_schema_evo_" + dir.replaceAll("[^A-Za-z0-9.]", "_")).getPath
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(root + "/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(root + "/v2")
      // plain read: the union schema merges two footers, not one
      s.read.option("mergeSchema", "true").parquet(root + "/v1", root + "/v2")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    "pipeline_curation" -> ((s, dir) => {
      val kept = TextAnalysis.quality(
          Tables.documents(s, dir), "doc_id", "text", passthrough = Seq("text"))
        .filter(col("alpha_ratio") >= 0.6 && col("stopword_ratio") >= 0.05)
      val survivors = Dedup.exactSurvivors(kept, "doc_id", Seq("text"))
      Sampling.splitAssign(survivors, "doc_id")
        .withColumn("n_tokens", size(TextFunctions.words(col("text"))))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("split"))
    }),

    // The FULL curation story: quality gate → exact dedup → minhash
    // near-dup survivor selection (pairs → connected components →
    // keep-one) → leak-proof split → per-split stats. Same single-scan
    // discipline as v1 up to the near-dup stage, whose banded self-join
    // + O(log D) component rounds are the only additions.
    // suppress (r14): the chain's joins/aggregates dominate; the
    // operator-internal spreads cost the composite +0.80 s r12 → r13
    // (driver) without a single-kernel payoff.
    "pipeline_curation_v2" -> ((s, dir) => graft.operators.Spread.suppress {
      val kept = TextAnalysis.quality(
          Tables.documents(s, dir), "doc_id", "text", passthrough = Seq("text"))
        .filter(col("alpha_ratio") >= 0.6 && col("stopword_ratio") >= 0.05)
      val exactSurv = Dedup.exactSurvivors(kept, "doc_id", Seq("text"))
      val nearSurv = Dedup.nearDupSurvivors(exactSurv, "doc_id",
        Dedup.minhashPairs(exactSurv, "doc_id", "text",
          numHashes = 16, numBands = 4, minEstimate = 0.5))
      Sampling.splitAssign(nearSurv, "doc_id")
        .withColumn("n_tokens", size(TextFunctions.words(col("text"))))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
          sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("split"))
    }),

    // INCREMENTAL ingest end-to-end: a new batch (doc_id % 10 == 0) is
    // quality-gated, near-dup-matched against the existing corpus via
    // the delta-probes-corpus band join (per-ingest cost scales with the
    // delta — see dedup_incremental), and only unmatched survivors are
    // UPSERTED into the corpus; graded on the per-source corpus report.
    // This is the steady-state shape of corpus maintenance at 100 TB:
    // signatures indexed once, so the DEDUP work per ingest is
    // delta-sized (the band join broadcasts the batch side — verified
    // in the plan), never a full re-dedup. The final merge is the one
    // corpus-sized stage; at scale it becomes an append of survivors
    // (disjoint keys) or a bucket-aligned upsert that avoids
    // re-shuffling the corpus — the full-outer Upsert here grades the
    // general overlapping-keys semantics.
    "pipeline_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select("doc_id", "text", "lang", "source")
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val kept = TextAnalysis.quality(batch, "doc_id", "text",
          passthrough = Seq("text", "lang", "source"))
        .filter(col("alpha_ratio") >= 0.6)
        .select("doc_id", "text", "lang", "source")
      val matches = Dedup.incrementalMinhashMatches(kept, corpus,
        "doc_id", "text", numHashes = 16, numBands = 4, minEstimate = 0.5)
      val newDocs = kept.join(
        matches.select(col("new_doc").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      Upsert(corpus, newDocs, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy(col("source"))
    }),

    // The COMPLETE corpus→batches story: quality gate → exact dedup →
    // minhash near-dup survivors → context-length chunking → token-
    // budget packing — documents in, packed training bins out, every
    // stage from this library, graded end-to-end on the per-bin rollup.
    // suppress (r14): same composite story — driver measured +1.15 s
    // r12 → r13 from the internal spread exchanges under the chain.
    "pipeline_training_batches" -> ((s, dir) => graft.operators.Spread.suppress {
      val kept = TextAnalysis.quality(
          Tables.documents(s, dir), "doc_id", "text", passthrough = Seq("text"))
        .filter(col("alpha_ratio") >= 0.6 && col("stopword_ratio") >= 0.05)
      val exactSurv = Dedup.exactSurvivors(kept, "doc_id", Seq("text"))
      val nearSurv = Dedup.nearDupSurvivors(exactSurv, "doc_id",
        Dedup.minhashPairs(exactSurv, "doc_id", "text",
          numHashes = 16, numBands = 4, minEstimate = 0.5))
      val chunks = TextAnalysis.chunkTokens(nearSurv, "doc_id", "text",
          chunkSize = 64, overlap = 16)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
          col("chunk_tokens").as("n_tokens"))
      Sampling.packTokens(chunks, "chunk_id", "n_tokens",
          budget = 2048L, numBuckets = 4)
        .groupBy(col("bucket"), col("bin"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_tokens")).cast("long").as("bin_tokens"),
          min(col("chunk_id")).as("min_chunk"))
        .orderBy(col("bucket"), col("bin"))
    }),

    // REAL header parse: payloads are synthesized VALID PNG/BMP
    // containers (format by doc_id parity, md5-derived dimensions); the
    // query recovers width/height by PARSING the header bytes while the
    // oracle recomputes them from the generator formula — so a wrong
    // offset or endianness in the parser flips the hash.
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.imageMeta(
          Multimodal.synthesizeImagePayload(Tables.documents(s, dir), "doc_id", "text"))
        .orderBy("media_id")),

    // The audio leg: synthesized VALID WAV/RIFF containers parsed back
    // with pure column expressions (channels/rate/bits/duration from
    // the published 44-byte PCM header layout) — wrong offset or
    // endianness flips the hash, same discipline as multimodal_meta.
    "multimodal_audio_meta" -> ((s, dir) =>
      Multimodal.audioMeta(
          Multimodal.synthesizeAudioPayload(Tables.documents(s, dir), "doc_id", "text"))
        .orderBy("media_id")),

    // REAL audio decode: the synthesized WAVs are parsed by the JDK's
    // own javax.sound.sampled decoder (AudioSystem), and the graded
    // sample sum is computed from the decoded PCM frames — the oracle
    // replays it as character-pair arithmetic over the ASCII body
    // (sample = b0 + 256·b1), with frame alignment flooring the
    // trailing partial frame exactly as the decoder does.
    "multimodal_audio_decode" -> ((s, dir) =>
      Multimodal.audioDecodeStats(
          Multimodal.synthesizeAudioPayload(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .orderBy("media_id")),

    // Feature extraction over the decoded PCM: RMS energy (exact
    // integer Σs², one sqrt) and per-channel sample sums — the
    // channel-interleave grading leg: assigning sample i to channel
    // (i mod nch) wrong flips ch0/ch1 and hash-fails. Mono rows carry
    // ch1_sum = null. The rms is rounded AFTER the identical sqrt on
    // both engines.
    "multimodal_audio_features" -> ((s, dir) =>
      Multimodal.audioFeatures(
          Multimodal.synthesizeAudioPayload(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("media_id"), col("format"), col("n_frames"),
          round(col("rms"), 4).as("rms"), col("ch0_sum"), col("ch1_sum"))
        .orderBy("media_id")),

    // The sample-ORDER grading leg: RMS and channel sums are
    // order-blind bags, so a decoder returning the right multiset of
    // samples in the wrong sequence still passes them —
    // first-difference energy Σ(s_k − s_{k−nch})² does not. Exact
    // integer Σs²/Σdiff²; hf_ratio is ONE double division (identical
    // IEEE both engines, no round()).
    "multimodal_audio_flux" -> ((s, dir) =>
      Multimodal.audioFlux(
          Multimodal.synthesizeAudioPayload(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .select(col("media_id"), col("format"), col("n_samples"),
          col("ssq"), col("diff2"), col("hf_ratio"))
        .orderBy("media_id")),

    // Silence detection over the decoded PCM: 64-sample windows, exact
    // integer sum threshold, LONGEST silent run — the windowed
    // sequence-order grade (a right-multiset wrong-order decode breaks
    // the run length). The oracle replays windows as i//64 groups over
    // the character-pair samples and the run via gaps-and-islands on
    // the silent window indexes.
    "multimodal_audio_silence" -> ((s, dir) =>
      Multimodal.audioSilence(
          Multimodal.synthesizeAudioPayload(Tables.documents(s, dir), "doc_id", "text"))
        .toDF()
        .orderBy("media_id")),

    // The VARIABLE-OFFSET leg: synthesized JPEGs carry an md5-length COM
    // segment before SOF0, so the frame header sits at a different byte
    // offset per row — the mapPartitions parser must genuinely walk the
    // marker/segment chain (fixed-offset peeking cannot pass). The
    // oracle replays the generator formula; the parser must agree from
    // the bytes alone.
    "multimodal_jpeg_meta" -> ((s, dir) =>
      Multimodal.jpegMeta(
          Multimodal.synthesizeJpegPayload(Tables.documents(s, dir), "doc_id", "text"))
        .orderBy("media_id")),

    // Hidden file-metadata columns (_metadata.file_path / row_index):
    // the lineage-and-debugging surface of every lake-scale incident
    // ("which file produced this row?"). Graded on the contract the
    // surface promises: per source file, row_index is a dense 0..n-1
    // ordinal (min 0, max n-1, all distinct) and file_path resolves to
    // the fixture file — stated by the oracle from plain count(*). The
    // metadata columns are generated AT the scan (constant per
    // file/position), so requesting them adds no pass and no shuffle.
    "q_metadata_columns" -> ((s, dir) => {
      val raw = Tables.table(s, dir, "events")
      raw.select(
          expr("regexp_extract(_metadata.file_path, '([^/]+)$', 1)").as("file"),
          col("_metadata.row_index").as("ri"))
        .groupBy(col("file"))
        .agg(count(lit(1)).as("n_rows"), min(col("ri")).as("min_ri"),
          max(col("ri")).as("max_ri"),
          countDistinct(col("ri")).as("n_distinct_ri"))
        .orderBy("file")
    }),

    // Partition pruning end-to-end: a one-time hive-partitioned rewrite
    // of documents by source (the layout every 100 TB corpus uses for
    // its coarse access dimension), then an aggregate whose source
    // predicate is answered by DIRECTORY pruning — the scan lists only
    // the matching partition (PlanShapeSpec asserts it in PartitionFilters
    // with the data filter gone). The filter value is the min source,
    // inlined as a literal so pruning happens at plan time; the oracle
    // applies the same predicate to the unpartitioned parquet.
    "q_partition_prune" -> ((s, dir) => {
      // Same single-writer computeIfAbsent staging as the stream
      // tertiles: one exclusive partitioned rewrite per JVM, no
      // exists()-then-write race with a concurrent grader.
      val out = ParityQueries.StagedInputs(s"$dir|documents|hive-by-source") { d =>
        Tables.documents(s, dir).write.mode("overwrite")
          .partitionBy("source").parquet(d)
        d
      }
      val minSource = Tables.documents(s, dir)
        .agg(min(col("source"))).first().getString(0)
      // plain read: the partition column `source` comes from the
      // directory names, which no file footer holds
      s.read.parquet(out)
        .filter(col("source") === lit(minSource))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    }),

    // REAL image decode: payloads are genuine PNGs (ImageIO.write of a
    // closed-form pixel formula); the query ImageIO.read-decodes them
    // and reports exact per-channel pixel sums, which the oracle
    // recomputes ARITHMETICALLY from the formula — any mis-decoded
    // byte anywhere flips the hash.
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeImageStats(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy("media_id")),

    // Dominant 2-bit-per-channel color from REAL decode: per-pixel
    // quantization to 64 buckets, argmax with smallest-bucket
    // tie-break. The histogram is position-blind but
    // value-DISTRIBUTION-strict — a third independent projection of
    // the decode (linear sums: multimodal_decode; quadratic moment:
    // multimodal_contrast), so a decode error that cancels in the sums
    // still moves a pixel across a bucket boundary here. The oracle
    // re-rasterizes the closed-form pixel formula over the (x, y) grid
    // and re-quantizes.
    "multimodal_palette" -> ((s, dir) =>
      Multimodal.dominantColor(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy("media_id")),

    // REAL resize: decode → nearest-neighbor scale to 8×6 → RE-ENCODE
    // as PNG → decode AGAIN for grading. The oracle replays the
    // nearest-neighbor source mapping (⌊x'·w/W⌋) over the pixel
    // formula, so the whole decode→scale→encode→decode chain must be
    // lossless and offset-exact.
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.decodeImageStats(
          Multimodal.resize(
            Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"),
            width = 8, height = 6))
        .toDF()
        .orderBy("media_id")),

    // REAL frame sampling: the payload is 4 complete PNGs concatenated
    // (the MJPEG pattern); sampleFrames must WALK the PNG chunk
    // structure to find frame boundaries, stride-select 2 of 4, and
    // ImageIO-decode each — graded on per-frame dims + channel sums
    // (frame t shifts the formula's constant term, so decoding the
    // wrong frame flips the hash).
    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
          Multimodal.synthesizeFrameStream(Tables.documents(s, dir), "doc_id",
            nFrames = 4),
          n = 2)
        .toDF()
        .orderBy("media_id", "frame_idx")),

    // Scene-cut detection over the REAL decoded frame stream: decode
    // ALL 4 frames per stream, then flag frames whose per-pixel channel
    // delta vs the previous frame crosses a threshold — the video
    // curation primitive (shot boundaries → keyframe selection). The
    // synthetic frames shift each channel's constant term by
    // (id+t) mod {7,11,13}, so most steps move ≈3 luma units/pixel and
    // a modular WRAP jumps ≥8 — a deterministic, id-dependent cut
    // pattern the oracle replays from the pixel formula. All integer
    // arithmetic (channel sums, abs deltas, one exact div by w·h); the
    // lag window partitions by media (4 rows each), never the corpus.
    "multimodal_scene_cut" -> ((s, dir) => {
      val f = Multimodal.sampleFrames(
          Multimodal.synthesizeFrameStream(Tables.documents(s, dir), "doc_id",
            nFrames = 4),
          n = 4)
        .toDF()
      val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
      f.withColumn("pd",
          abs(col("sum_r") - lag(col("sum_r"), 1).over(w)) +
            abs(col("sum_g") - lag(col("sum_g"), 1).over(w)) +
            abs(col("sum_b") - lag(col("sum_b"), 1).over(w)))
        .select(col("media_id"), col("frame_idx"),
          expr("pd div (width * height)").as("delta_ppx"),
          (expr("pd div (width * height)") >= 8).as("is_cut"))
        .orderBy("media_id", "frame_idx")
    }),

    // REAL feature extraction: ImageIO decode + 16-bin luminance
    // histogram (integer counts — exact). Graded: pixel count, dim, and
    // the bin-weighted checksum Σ bin·count, all flowing THROUGH the
    // decoded histogram; the oracle rebuilds the histogram per-pixel
    // from the formula. The float vector itself stays on the Dataset
    // API (asserted in TextAnalysisSpec).
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .select(col("media_id"), col("n_pixels"), size(col("features")).as("dim"),
          expr("cast(aggregate(zip_with(features, sequence(0, size(features)-1)," +
            " (c, i) -> c * i), cast(0 as double), (a, x) -> a + x) as long)")
            .as("hist_checksum"))
        .orderBy("media_id")),

    // dHash perceptual fingerprint over REAL decoded pixels: 8×8
    // nearest-neighbor luminance grid (BT.601 integer milli-weights),
    // 56 horizontal gradient-sign bits packed into one BIGINT. The
    // oracle replays the full decode→sample→luma→pack chain from the
    // pixel formula — a wrong sample coordinate, luma weight, or bit
    // position flips the hash.
    "multimodal_phash" -> ((s, dir) =>
      Multimodal.perceptualHash(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .orderBy("media_id")),

    // Image exact-dup grouping by perceptual hash — the first pass of
    // image dedup (keep = min id per hash group). One partial-aggregable
    // groupBy on the 56-bit hash; output is bounded by the number of
    // DISTINCT fingerprints, never the image count. (The Hamming-banded
    // near-dup pair join is spec-tested on structurally distinct images
    // — this fixture's gradient images collapse to 5 hash groups, which
    // is exactly what the grouping shows.)
    "multimodal_phash_groups" -> ((s, dir) =>
      Multimodal.perceptualHash(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .groupBy(col("phash"))
        .agg(count(lit(1)).as("n_images"),
          min(col("media_id")).as("keep_id"),
          max(col("media_id")).as("max_id"))
        .orderBy("phash")),

    // RMS contrast from REAL decode — the image-quality filter a
    // multimodal curation pipeline runs before training (flat/blank
    // images score ~0): variance of BT.601 milli-luma per image. The
    // quadratic moment is a STRICTER decode grade than channel sums
    // (linear sums survive pixel permutations; Σl² does not survive
    // value errors). Exactness: n·Σl² − (Σl)² is exact BIGINT algebra
    // on per-image integer moments; variance = num/n² is ONE double
    // division and rms = sqrt(var) is correctly-rounded IEEE — both
    // engines land on identical doubles with no round() anywhere.
    // Shape: per-partition-batched decode in mapPartitions (imperative
    // codec work), then pure plan-side algebra — no shuffle at all
    // beyond the final presentation sort.
    "multimodal_contrast" -> ((s, dir) =>
      Multimodal.lumaStats(
          Multimodal.synthesizeRealPng(Tables.documents(s, dir), "doc_id"))
        .toDF()
        .select(col("media_id"), col("n_pixels"), col("sum_lum"),
          (col("n_pixels") * col("sum_lum2") - col("sum_lum") * col("sum_lum"))
            .as("var_num"))
        .select(col("media_id"), col("n_pixels"), col("sum_lum"), col("var_num"),
          (col("var_num").cast("double") /
            (col("n_pixels") * col("n_pixels")).cast("double"))
            .as("contrast_var"),
          sqrt(col("var_num").cast("double") /
            (col("n_pixels") * col("n_pixels")).cast("double"))
            .as("contrast_rms"))
        .orderBy("media_id")),

    // Tokenizer fertility by (labelled, predicted) language — the
    // multilingual budget audit every tokenizer change triggers: how
    // many BPE-ish tokens per whitespace word, and how many chars per
    // token, does each language pay? Grouping by BOTH the fixture label
    // and the langid prediction folds a classifier confusion view into
    // the same rollup. Composes the graded langid classifier with the
    // graded token counters (one scan each, one join on doc_id, one
    // partial-aggregable groupBy on the bounded language-pair key).
    // Exactness: all sums are exact BIGINT token/char counts; fertility
    // and chars-per-token are ONE floor division each to micro-units —
    // no float anywhere.
    "text_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lang = TextAnalysis.languageId(docs, "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
      val toks = TextAnalysis.tokenCounts(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      lang.join(toks, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("words"),
          sum(col("n_tokens_bpe")).as("bpe_tokens"),
          sum(col("n_chars")).as("chars"))
        .select(col("lang"), col("pred_lang"), col("n_docs"), col("words"),
          col("bpe_tokens"), col("chars"),
          (expr("(bpe_tokens * 1000000) div words") / 1e6).as("fertility"),
          (expr("(chars * 1000000) div bpe_tokens") / 1e6)
            .as("chars_per_token"))
        .orderBy("lang", "pred_lang")
    }),

    // Top-p (nucleus) vocabulary truncation — the sampling-side
    // counterpart of the BPE vocab build: the smallest prefix of the
    // frequency-sorted vocabulary whose cumulative mass reaches 90%.
    // Shape: one explode + partial-aggregable term count (shuffle on
    // term only — the text_tfidf contract), then ONE Sweep.runningSum
    // over the count-descending total order (range partition + P driver
    // longs; never a single-partition window). Exactness: the keep
    // predicate (cum − cnt)·10 < 9·total is pure BIGINT algebra — a
    // word enters iff the mass BEFORE it is under 90% — and the share
    // column is one floor division to micro-units.
    "text_top_p_vocab" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(TextFunctions.words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("total"))
      val run = Sweep.runningSum(counts, col("cnt"), "cum",
        col("cnt").desc, col("word"))
      run.crossJoin(broadcast(tot))
        .filter((col("cum") - col("cnt")) * 10 < col("total") * 9)
        .select(col("word"), col("cnt"), col("cum"),
          (expr("(cnt * 1000000) div total") / 1e6).as("share"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    // Language-rebalanced token budgeting — the mixture step every
    // multilingual pretraining run applies (an English-dominant crawl
    // starves other languages): give each language an equal share of
    // the global token budget and hash-downsample the over-budget ones
    // to their allocation. The language key is the corpus's `lang`
    // label — the column an upstream classifier (the graded
    // text_langid/text_fertility leg) writes; the fixture's 5-language,
    // en-dominant mix makes the rebalance non-degenerate (en keeps
    // ~1/3, minority languages keep everything). Composes BPE token
    // counts + the data_mixture_sample hash-gate discipline.
    // Exactness: budgets and keep-fractions are exact floor divisions
    // to micro-units; the keep gate compares a replayable md5-carved
    // uniform against frac_micro — deterministic under any partitioning
    // or reshuffle, and the report's token sums are exact BIGINTs.
    // Shape: one scan for token counts joined to the label; the
    // per-language rollup is bounded by |langs|; the gate is a
    // broadcast join of 5 rows back onto the corpus — at 100 TB the
    // only data-sized stage is the scan.
    "pipeline_lang_rebalance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("lang").as("pred_lang"))
        .join(TextAnalysis.tokenCounts(docs, "doc_id", "text")
          .select(col("doc_id"), col("n_tokens_bpe")), "doc_id")
      val perLang = scored.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens_bpe")).as("tok"))
      val tot = perLang.agg(sum(col("tok")).as("t"),
        count(lit(1)).as("nlang"))
      val alloc = perLang.crossJoin(broadcast(tot))
        .select(col("pred_lang"), col("n_docs"), col("tok"),
          least(lit(1000000L),
            expr("((t div nlang) * 1000000) div tok")).as("frac_micro"))
      scored.join(broadcast(alloc), "pred_lang")
        .withColumn("keep",
          pmod(expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 6)," +
            " 16, 10) as bigint)"), lit(1000000L)) < col("frac_micro"))
        .groupBy(col("pred_lang"))
        .agg(first(col("n_docs")).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          first(col("tok")).as("tokens_total"),
          sum(when(col("keep"), col("n_tokens_bpe")).otherwise(0L))
            .as("tokens_kept"),
          (first(col("frac_micro")) / 1e6).as("keep_frac"))
        .orderBy("pred_lang")
    }),

    // STREAMING MinHash near-dup detection graded — the streaming ×
    // dedup composition (Streaming.minhashNearDupStream, probed for
    // state in COVERAGE but never registry-graded until now): documents
    // stream in 3 doc-id-tertile micro-batches with synthetic monotone
    // event times; per-band-bucket state must carry across batches so a
    // batch-0 near-dup of a batch-2 doc still pairs. Emission is once
    // per COLLIDING BAND (at-least-once, documented in the operator),
    // so the oracle replays per-band collisions — the duplicate
    // multiplicity itself is graded. The watermark is wider than the
    // synthetic time span, so no state is pruned and the emitted set
    // equals the batch band join; est values are k/16 (exactly
    // representable — the HALF_UP display round is a no-op on both
    // engines).
    "stream_neardup" -> ((s, dir) =>
      ParityQueries.withShufflePartitions(s, 4) {
        val stream = ParityQueries.replay(s, dir, ParityQueries.DocSlices).stream(s)
        val pairs = graft.streaming.Streaming.minhashNearDupStream(
          stream, "doc_id", "text", "ts_ms", watermark = "87600 hours")
        ParityQueries.drain(pairs.toDF(), "append")
          .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
          .orderBy("doc_a", "doc_b")
      }),

    // STREAMING QUANTILES with BOUNDED state: per event type, a
    // 1024-bucket value histogram accumulates across three replayed
    // micro-batches in complete mode, then P50/P90/P99 read off the
    // cumulative counts — the fixed-memory quantile recipe (histogram /
    // DDSketch family) whose state is |types|·1024 rows BY CONSTRUCTION
    // (the clamp), independent of stream length or value cardinality —
    // the property that makes streaming percentile SLOs possible at
    // 100 TB/day. Exactness: cents = floor(value·100) is one
    // correctly-rounded IEEE op both engines share; buckets are
    // nonneg-clamped BEFORE the truncating division (Spark `div`
    // truncates toward zero, DuckDB `//` floors — identical only on
    // nonnegatives); the quantile rule "smallest bucket with
    // cum·100 ≥ q·n" is a pure integer comparison (percentile_disc
    // semantics at bucket granularity). The oracle replays the batch
    // histogram — legal because the count merge is commutative, the
    // same argument as stream_hll's register max.
    "stream_quantile_hist" -> ((s, dir) =>
      ParityQueries.withShufflePartitions(s, 4) {
        val stream = ParityQueries.replay(s, dir,
          ParityQueries.EventFiles(Some(3))).stream(s)
        val hist = stream.select(col("event_type"),
            least(expr("greatest(cast(floor(value * 100) as bigint), 0) div 500"),
              lit(1023L)).as("bucket"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("cnt"))
        // the sink is sketch-sized (|types|·1024 rows, bounded by
        // construction); the quantile extraction runs on its snapshot
        val snap = ParityQueries.drain(hist, "complete")
        val tot = snap.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
        val wCum = Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0)
        snap.withColumn("cum", sum(col("cnt")).over(wCum))
          .join(tot, "event_type")
          .crossJoin(s.range(1).select(
            explode(array(lit(50L), lit(90L), lit(99L))).as("quantile")))
          .filter(col("cum") * 100 >= col("quantile") * col("n"))
          .groupBy(col("event_type"), col("quantile"), col("n"))
          .agg(min(col("bucket")).as("bucket"))
          .select(col("event_type"), col("quantile"), col("bucket"),
            (col("bucket") * 5.0).as("value_lo"), col("n"))
          .orderBy("event_type", "quantile")
      }),

    // RLHF/DPO preference-pair construction — per source stratum, pair
    // the highest-scoring document (chosen) against the lowest
    // (rejected), the standard seed for preference-tuning data. The
    // quality score is the exact-integer alpha ratio in micro-units
    // (floor division — never a rounded float), and both argmax and
    // argmin ride ONE packed-BIGINT aggregate pass (score·2³³ ± id with
    // the complement trick for smallest-id tie-breaks; score ≤ 1e6 keeps
    // the pack under 2⁵³ — exact even as a double, safe in BIGINT
    // through any corpus). One scan, one partial-aggregable groupBy on
    // source; no joins, no window.
    // Hamilton (largest-remainder) apportionment of a fixed training
    // budget of 10,000 sampling slots across source strata by exact
    // character mass — the canonical "give every stratum its
    // proportional share, distribute the integer leftovers to the
    // largest remainders" allocation every mixture-weighted corpus uses
    // (floor division alone under-allocates; naive rounding
    // over-allocates). Exactness: quota numerator/remainder are exact
    // decimal(38,0)/HUGEINT products (B·weight ≈ 1e4·1e14 at 100 TB —
    // past BIGINT, fine in decimal), ranked by an exact integer
    // remainder with a source tie-break. Shape: one partial-aggregable
    // rollup to |sources| rows; the unpartitioned window runs over
    // those |sources| rows only — bounded by the stratum universe,
    // never the corpus.
    "data_budget_allocation" -> ((s, dir) =>
      Sampling.hamiltonAllocation(
          Tables.documents(s, dir).groupBy(col("source"))
            .agg(sum(col("n_chars")).as("weight")),
          budget = 10000L)
        .orderBy("source")),

    // DSIR-flavored importance weighting (Xie et al. 2023, "Data
    // Selection via Importance Resampling"): hashed word-bigram bucket
    // counts build a target-vs-raw importance ratio per bucket, and
    // each document scores the mean importance of its bigram
    // occurrences — the standard recipe for tilting a 100 TB crawl
    // toward a target distribution. The target here is the corpus's
    // min(lang) slice (a formula-stable stand-in for "looks like the
    // reference corpus"). Exactness: per-bucket weights are ONE floor
    // division of exact Laplace-smoothed integer products in
    // decimal(38,0) — the paper's log-ratio sum becomes an
    // exactly-replayable mean of micro-unit ratios (same monotone
    // ranking within a document length class, no cross-engine libm).
    // Shape: one bigram explode feeds both count tables; the 256-row
    // weight table broadcasts back onto the exploded corpus — the only
    // data-sized stages are the explode and one partial-aggregable
    // per-doc sum.
    "data_importance_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bigramsExpr = TextFunctions.bigramsExpr()
      val bg = docs
        .select(col("doc_id"), col("lang"),
          TextFunctions.words(col("text")).as("__w"))
        .filter(size(col("__w")) >= 2)
        .select(col("doc_id"), col("lang"), explode(expr(bigramsExpr)).as("bg"))
        .withColumn("bucket",
          expr("cast(conv(substr(md5(bg), 1, 6), 16, 10) as bigint) % 256"))
      val raw = bg.groupBy(col("bucket")).agg(count(lit(1)).as("c_raw"))
      val tgt = bg.join(
          broadcast(docs.agg(min(col("lang")).as("lang"))), Seq("lang"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("c_tgt"))
      val tot = raw.agg(sum(col("c_raw")).as("t_raw"))
        .crossJoin(tgt.agg(sum(col("c_tgt")).as("t_tgt")))
      val dec = "decimal(38,0)"
      val weights = raw.join(tgt, Seq("bucket"), "left")
        .crossJoin(broadcast(tot))
        .select(col("bucket"),
          expr(s"(cast(coalesce(c_tgt, 0) + 1 as $dec)" +
            s" * (cast(t_raw as $dec) + 256) * 1000000)" +
            s" div ((c_raw + 1) * (cast(t_tgt as $dec) + 256))")
            .as("w_micro"))
      bg.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("w_micro")).as("sw"))
        .select(col("doc_id"), col("n_bigrams"),
          (expr("sw div n_bigrams") / 1e6).as("importance"))
        .orderBy("doc_id")
    }),

    // Kneser–Ney-smoothed bigram probabilities (the n-gram LM smoothing
    // standard; Kneser & Ney 1995) for the corpus's top-40 bigrams —
    // entirely in EXACT integer arithmetic: discount D = 0.75 is the
    // micro literal 750000, the discounted term max(c12·1e6 − D, 0)/c1,
    // the backoff weight λ(w1) = D·N1+(w1·)/c1, and the continuation
    // probability Pcont(w2) = N1+(·w2)/|bigram types| are each ONE
    // floor division of exact counts, composed by ONE micro-product
    // division — no ln, no float sum, so the smoothing that is usually
    // "approximately equal across engines" is replayed digit-for-digit.
    // Shape: one bigram explode → one count table that feeds head,
    // continuation, and type-total aggregates (never a second corpus
    // pass); the final join is vocabulary-sized, shuffled on the
    // bigram/word keys.
    "text_kn_bigram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bigramsExpr = TextFunctions.bigramsExpr()
      val bc = docs
        .select(TextFunctions.words(col("text")).as("__w"))
        .filter(size(col("__w")) >= 2)
        .select(explode(expr(bigramsExpr)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
        .withColumn("w2", substring_index(col("bg"), " ", -1))
      val head = bc.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n_cont"))
      val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("n_left"))
      val types = bc.agg(count(lit(1)).as("b_types"))
      val dec = "decimal(38,0)"
      bc.join(head, "w1").join(cont, "w2").crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n_cont"), col("n_left"),
          ((expr(s"greatest(cast(c12 as $dec) * 1000000 - 750000, 0) div c1") +
            expr("(((750000 * n_cont) div c1)" +
              " * ((n_left * 1000000) div b_types)) div 1000000")) / 1e6)
            .as("p_kn"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
        .limit(40)
    }),

    "data_preference_pairs" -> ((s, dir) => {
      val pack = 8589934592L // 2^33
      val scored = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          expr("(length(regexp_replace(text, '[^A-Za-z]', '')) * 1000000)" +
            " div length(text)").as("score_micro"))
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("score_micro") * pack + (lit(pack - 1) - col("doc_id")))
            .as("pmax"),
          min(col("score_micro") * pack + col("doc_id")).as("pmin"))
        .select(col("source"), col("n_docs"),
          (lit(pack - 1) - pmod(col("pmax"), lit(pack))).as("chosen_id"),
          pmod(col("pmin"), lit(pack)).as("rejected_id"),
          (expr("(pmax div 8589934592)") / 1e6).as("chosen_score"),
          (expr("(pmin div 8589934592)") / 1e6).as("rejected_score"),
          ((expr("pmax div 8589934592") - expr("pmin div 8589934592")) / 1e6)
            .as("margin"))
        .orderBy("source")
    }))

  // --- generated ANN oracle fragments -------------------------------
  // One CASE per hyperplane, sign literals baked from the SAME
  // Similarity.planeSigns the Spark plan constant-folds.
  private val lshPlanes = 16
  private val lshBands = 4
  private val lshDim = 64
  private val lshBitsSql = (0 until lshPlanes).map { p =>
    val arr = Similarity.planeSigns(p, lshDim)
      .map(s => if (s > 0) "1" else "-1").mkString("[", ", ", "]")
    s"CASE WHEN list_inner_product(v, $arr::DOUBLE[]) >= 0 THEN 1 ELSE 0 END AS b$p"
  }.mkString(",\n         ")
  // JL projection columns — sign literals from the SAME offset plane
  // family Similarity.randomProjection constant-folds.
  private val projDim = 8
  private val projColsSql = (0 until projDim).map { k =>
    val arr = Similarity.planeSigns(Similarity.ProjectionPlaneOffset + k, lshDim)
      .map(s => if (s > 0) "1" else "-1").mkString("[", ", ", "]")
    f"round(list_inner_product(v, $arr::DOUBLE[]) / sqrt($projDim), 6) AS p$k%02d"
  }.mkString(",\n       ")
  private val lshBandKeySql = (0 until lshBands).map { b =>
    val perBand = lshPlanes / lshBands
    (0 until perBand).map(i => s"b${b * perBand + i} * ${1L << i}")
      .mkString(" + ") + s" AS bk$b"
  }.mkString(",\n       ")
  private val lshBucketsUnion = (0 until lshBands).map { b =>
    if (b == 0) s"SELECT vec_id AS id, 0 AS band, bk0 AS band_key FROM bk"
    else s"       UNION ALL SELECT vec_id, $b, bk$b FROM bk"
  }.mkString("\n|")

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      "SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id",

    "dedup_fingerprint" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |       min(doc_id) AS doc_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_url" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END || '://' ||
        |         CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'example.com' END ||
        |         CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END ||
        |         '/docs/' || CAST(doc_id % 20 AS VARCHAR) ||
        |         CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0 THEN ''
        |              WHEN doc_id % 13 = 0 THEN '?utm_medium=email&id=' || CAST(doc_id % 20 AS VARCHAR)
        |              ELSE '?id=' || CAST(doc_id % 20 AS VARCHAR) ||
        |                   CASE WHEN doc_id % 2 = 1 THEN '&utm_source=feed&utm_campaign=c1' ELSE '' END END ||
        |         CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |         regexp_replace(replace(replace(replace(
        |           regexp_replace(regexp_replace(regexp_replace(
        |             lower(regexp_replace(url, '#.*$', '')),
        |             '&(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
        |             '\?(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&', '?'),
        |             '\?(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*$', ''),
        |           '://www.', '://'), ':80/', '/'), '/?', '?'),
        |         '/$', '') AS url_canon
        |  FROM urls)
        |SELECT url_canon, min(doc_id) AS survivor_id, count(*) AS n_dups
        |FROM canon GROUP BY url_canon HAVING count(*) >= 2
        |ORDER BY url_canon""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $minhashCtes
         |SELECT doc_a, doc_b, est_jaccard FROM mh_pairs
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Connected components over the SAME minhash pairs, replayed as a
    // recursive-CTE reachability walk: (node, lbl) reachable pairs,
    // min(lbl) per node = the component's min id — exactly the
    // min-label-propagation fixpoint the Spark operator computes.
    "dedup_components" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes
         |SELECT node, component FROM comp ORDER BY node""".stripMargin,

    "data_quantile_normalize" ->
      """WITH qs AS (SELECT doc_id, source,
        |         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
        |               / length(text), 4) AS alpha_ratio
        |       FROM documents)
        |SELECT doc_id, source, alpha_ratio,
        |       round(percent_rank() OVER (PARTITION BY source
        |               ORDER BY alpha_ratio, doc_id), 6) AS q_norm
        |FROM qs ORDER BY doc_id""".stripMargin,

    "text_ngram_novelty" ->
      s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h
         |       FROM sh),
         |dfc AS (SELECT h, count(*) AS df FROM hs GROUP BY h)
         |SELECT hs.doc_id, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 6) AS novelty
         |FROM hs JOIN dfc USING (h)
         |GROUP BY hs.doc_id ORDER BY doc_id""".stripMargin,

    // Same readability band, md5 survivor, and survivor-quartile staging.
    "pipeline_curation_v4" ->
      s"""WITH b AS (SELECT doc_id, text, $wordsSql AS l,
         |             len(list_filter(string_split_regex(text, '[.!?]+'),
         |                             x -> trim(x) <> ''))::BIGINT AS ns0
         |           FROM documents),
         |m AS (SELECT doc_id, text, len(l)::BIGINT AS n_words,
         |        greatest(ns0, 1) AS n_sent,
         |        CAST(list_sum(list_transform(l, w ->
         |          greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
         |          AS n_syll,
         |        CAST(list_sum(list_transform(l, w -> len(w))) AS BIGINT) AS n_wchars
         |      FROM b),
         |f AS (SELECT *, 206.835
         |        - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
         |        - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
         |      FROM m),
         |k AS (SELECT * FROM f WHERE flesch >= 30.0 AND flesch <= 100.0),
         |s AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id FROM k GROUP BY 1),
         |sv AS (SELECT k.doc_id, k.n_words,
         |         CAST(floor(k.n_wchars * 1000 / k.n_words) + k.n_words AS BIGINT)
         |           AS difficulty
         |       FROM k JOIN s ON k.doc_id = s.doc_id),
         |c AS (SELECT quantile_cont(difficulty, 0.25) AS c1,
         |             quantile_cont(difficulty, 0.5) AS c2,
         |             quantile_cont(difficulty, 0.75) AS c3
         |      FROM sv),
         |st AS (SELECT doc_id, n_words,
         |         1 + CASE WHEN difficulty > c1 THEN 1 ELSE 0 END
         |           + CASE WHEN difficulty > c2 THEN 1 ELSE 0 END
         |           + CASE WHEN difficulty > c3 THEN 1 ELSE 0 END AS stage
         |       FROM sv CROSS JOIN c)
         |SELECT stage, count(*) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS sum_words,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    "pipeline_curation_v3" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         |qn AS (SELECT doc_id,
         |         round(percent_rank() OVER (PARTITION BY source
         |                 ORDER BY alpha_ratio, doc_id), 6) AS q_norm
         |       FROM (SELECT doc_id, source,
         |               round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
         |                     / length(text), 4) AS alpha_ratio
         |             FROM documents) q0),
         |hs AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS h
         |       FROM sh),
         |dfc AS (SELECT h, count(*) AS df FROM hs GROUP BY h),
         |nov AS (SELECT hs.doc_id,
         |          round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |                / count(*), 6) AS novelty
         |        FROM hs JOIN dfc USING (h) GROUP BY hs.doc_id)
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN keepers k ON k.doc_id = d.doc_id
         |JOIN qn ON qn.doc_id = d.doc_id
         |JOIN nov ON nov.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT node FROM losers)
         |  AND qn.q_norm >= 0.2 AND nov.novelty >= 0.3
         |ORDER BY d.doc_id""".stripMargin,

    // Confusion counts of banded-candidate pairs vs the exact df-capped
    // Jaccard ground truth; the exact side renames its CTEs (x-prefix)
    // to coexist with the minhash chain's w/sh/sig names.
    "dedup_pair_eval" ->
      s"""WITH $minhashCtes,
         |xsh AS (SELECT doc_id,
         |          unnest(list_distinct(list_transform(
         |            list_transform(generate_series(1, len(l) - 2),
         |              i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]),
         |            q -> ('0x' || substr(md5(q), 1, 12))::BIGINT))) AS shingle
         |        FROM w),
         |xshf AS (SELECT doc_id, shingle FROM xsh
         |         QUALIFY count(*) OVER (PARTITION BY shingle) <= 100),
         |xn AS (SELECT doc_id, count(*) AS n FROM xshf GROUP BY doc_id),
         |xc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |       FROM xshf a JOIN xshf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM xc
         |          JOIN xn na ON na.doc_id = doc_a
         |          JOIN xn nb ON nb.doc_id = doc_b
         |          WHERE round(c * 1.0 / (na.n + nb.n - c), 4) >= 0.8),
         |u AS (SELECT m.doc_a IS NOT NULL AS in_m, t.doc_a IS NOT NULL AS in_t
         |      FROM (SELECT doc_a, doc_b FROM mh_pairs) m
         |      FULL JOIN truth t ON t.doc_a = m.doc_a AND t.doc_b = m.doc_b),
         |f AS (SELECT CAST(sum(CASE WHEN in_m AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |             CAST(sum(CASE WHEN in_m AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |             CAST(sum(CASE WHEN NOT in_m AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |      FROM u)
         |SELECT tp, fp, fn,
         |       round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
         |       round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall
         |FROM f""".stripMargin,

    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component),
         |hist AS (SELECT sz AS size, count(*) AS n_components FROM sizes GROUP BY sz
         |         UNION ALL
         |         SELECT 1 AS size, count(*) AS n_components FROM documents
         |         WHERE doc_id NOT IN (SELECT node FROM comp))
         |SELECT size, CAST(sum(n_components) AS BIGINT) AS n_components
         |FROM hist GROUP BY size ORDER BY size""".stripMargin,

    // The cleaned-corpus contract: drop every non-representative member
    // of a near-dup component, keep all never-paired documents.
    "dedup_survivors" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // Same component walk as dedup_survivors, but the kept member is
    // the per-component argmax(alpha_ratio, tie min node). The
    // min-id-based `losers` CTE from componentCtes goes unreferenced
    // (unreferenced CTEs are not evaluated).
    "dedup_survivors_best" ->
      s"""WITH RECURSIVE $minhashCtes,
         |$componentCtes,
         |qs AS (SELECT doc_id,
         |         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio
         |       FROM documents),
         |sc AS (SELECT comp.node, comp.component, qs.alpha_ratio
         |       FROM comp JOIN qs ON qs.doc_id = comp.node),
         |lose AS (SELECT node FROM sc
         |         QUALIFY row_number() OVER (PARTITION BY component
         |                   ORDER BY alpha_ratio DESC, node) > 1)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM lose)
         |ORDER BY doc_id""".stripMargin,

    "pipeline_mixture" ->
      s"""WITH q AS (SELECT doc_id, lang, source,
         |             len($wordsSql) AS n_tokens,
         |             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio
         |           FROM documents)
         |SELECT source, lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |       round(sum(CAST(round(alpha_ratio * 10000) AS BIGINT)) / (count(*) * 10000.0), 4) AS avg_alpha,
         |       min(doc_id) AS min_id
         |FROM q GROUP BY source, lang ORDER BY source, lang""".stripMargin,

    // Delta-vs-corpus matching: same signature/band CTEs as
    // dedup_minhash, but the candidate join pairs only new-batch docs
    // (doc_id % 10 = 0) against corpus docs.
    "dedup_incremental" ->
      s"""WITH ${sigBandCtesFrom("documents")},
         |cand AS (SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS corpus_doc
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.band_key = y.band_key
         |        WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0),
         |est AS (SELECT new_doc, corpus_doc,
         |          round(avg(CASE WHEN a.minh = b.minh THEN 1.0 ELSE 0.0 END), 4) AS est_jaccard
         |        FROM cand
         |        JOIN sig a ON a.doc_id = new_doc
         |        JOIN sig b ON b.doc_id = corpus_doc AND a.seed = b.seed
         |        GROUP BY 1, 2)
         |SELECT new_doc, corpus_doc, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5 ORDER BY new_doc, corpus_doc""".stripMargin,

    // Decontamination: the split buckets replay the splitAssign md5
    // math; shingle keys replay ShingleHashes' 48-bit md5-prefix hash.
    "text_contamination" -> contaminationOracle(1),

    // Same walk over the 1-in-4 hash-sampled shingle universe.
    "text_contamination_sampled" -> contaminationOracle(4),

    // Shingles join-keyed by their 48-bit md5-prefix hash, mirroring the
    // Spark side's native ShingleHashes expression.
    "dedup_ngram_jaccard" ->
      s"""WITH $wordCte,
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(
         |           list_transform(generate_series(1, len(l) - 2),
         |             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]),
         |           s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS shingle
         |       FROM w),
         |shf AS (SELECT doc_id, shingle FROM sh
         |        QUALIFY count(*) OVER (PARTITION BY shingle) <= 100),
         |n AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        round(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
         |      FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
         |SELECT * FROM j WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,

    // Containment over the winnowed fingerprints — same winnow CTE as
    // text_winnow, then the df-capped overlap join with a least() floor.
    "dedup_containment" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(generate_series(1, len(l) - 2),
         |          i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 12))::BIGINT) AS hs
         |      FROM w WHERE len(l) >= 3),
         |sel AS (SELECT doc_id,
         |          unnest(list_distinct(list_transform(
         |            generate_series(1, greatest(len(hs) - 3, 1)),
         |            j -> list_min(hs[j:least(j + 3, len(hs))])))) AS fp
         |        FROM g),
         |kept AS (SELECT doc_id, fp FROM sel
         |         QUALIFY count(*) OVER (PARTITION BY fp) <= 100),
         |n AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
         |      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b,
         |        round(c * 1.0 / least(na.n, nb.n), 4) AS containment
         |      FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b)
         |SELECT * FROM j WHERE containment >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,

    "text_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $simhashCte,
         |bytes AS (SELECT doc_id, simhash, j, (simhash >> (j * 8)) % 256 AS byte
         |          FROM sim CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) js),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |                x.simhash AS sha, y.simhash AS shb
         |         FROM bytes x JOIN bytes y
         |           ON x.j = y.j AND x.byte = y.byte AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, bit_count(xor(sha, shb)) AS hamming
         |FROM cand WHERE bit_count(xor(sha, shb)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $embCte,
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        round(${cos("a", "b")}, 6) AS cos_sim
         |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |SELECT * FROM p WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "dedup_fuzzy" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM c a JOIN c b
        |  ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // Same df-ordered prefix selection + exact full-set verify as the
    // Spark operator: rarest-first rank, prefix bound n - ceil(τn) + 1,
    // length filter, then list_intersect on the complete hash sets.
    "dedup_prefix_filter" ->
      s"""WITH $wordCte,
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(
         |           list_transform(generate_series(1, len(l) - 2),
         |             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]),
         |           s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS h
         |       FROM w),
         |df AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
         |rk AS (SELECT s.doc_id, s.h,
         |         row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.h) AS pos,
         |         count(*) OVER (PARTITION BY s.doc_id) AS n
         |       FROM sh s JOIN df d USING (h)),
         |pre AS (SELECT * FROM rk WHERE pos <= n - ceil(0.8 * n) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM pre a JOIN pre b
         |           ON a.h = b.h AND a.doc_id < b.doc_id
         |          AND b.n >= ceil(0.8 * a.n) AND a.n >= ceil(0.8 * b.n)),
         |sets AS (SELECT doc_id, list(h) AS ks, count(*) AS n FROM sh GROUP BY 1),
         |j AS (SELECT doc_a, doc_b,
         |        round(len(list_intersect(sa.ks, sb.ks)) * 1.0 /
         |              (sa.n + sb.n - len(list_intersect(sa.ks, sb.ks))), 4) AS jaccard
         |      FROM cand
         |      JOIN sets sa ON sa.doc_id = doc_a
         |      JOIN sets sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,

    // DuckDB's native jaro_winkler_similarity (rapidfuzz semantics: the
    // exact parameterization the graft expression mirrors).
    "dedup_jaro" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nation
        |           FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
        |FROM c a JOIN c b ON a.nation = b.nation AND a.id < b.id
        |WHERE round(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.97
        |ORDER BY id_a, id_b""".stripMargin,

    // Brute-force linkage within the nation block (algorithm-independent
    // of the Spark side's deletion-neighborhood candidates), with the
    // same key-dependent one-character deletion building source B.
    "pipeline_record_linkage" ->
      """WITH a AS (SELECT c_custkey AS a_id, c_name AS nm, c_nationkey AS nation
        |           FROM customer),
        |b AS (SELECT c_custkey AS b_id,
        |        substr(c_name, 1, (c_custkey % length(c_name))::INT) ||
        |        substr(c_name, (c_custkey % length(c_name))::INT + 2) AS nm,
        |        c_nationkey AS nation
        |      FROM customer),
        |m AS (SELECT b.b_id, a.a_id,
        |        CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
        |      FROM b JOIN a USING (nation)
        |      WHERE levenshtein(a.nm, b.nm) <= 1),
        |r AS (SELECT b_id, a_id, dist,
        |        count(*) OVER (PARTITION BY b_id) AS n_cands,
        |        row_number() OVER (PARTITION BY b_id ORDER BY dist, a_id) AS rk
        |      FROM m)
        |SELECT b_id, a_id AS best_a_id, dist, n_cands
        |FROM r WHERE rk = 1 ORDER BY b_id""".stripMargin,

    "embedding_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, greatest(list_max(v), -list_min(v)) / 127.0 AS scale, v
        |      FROM e),
        |q AS (SELECT vec_id, scale,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
        |             ELSE list_transform(v, x -> CAST(round(x / scale) AS INT)) END AS qv
        |      FROM s)
        |SELECT vec_id, len(qv) AS dim, round(scale, 6) AS scale_r,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       list_min(qv) AS q_min, list_max(qv) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,

    "embedding_stats" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |ji AS (SELECT unnest(generate_series(1, len(v))) AS j, v FROM e),
        |x AS (SELECT j - 1 AS dim, v[j] AS val,
        |             CAST(round(v[j] * 1e6) AS BIGINT) AS m FROM ji),
        |a AS (SELECT dim, count(*) AS n,
        |             CAST(sum(m) AS BIGINT) AS s,
        |             CAST(sum(m * m) AS BIGINT) AS q,
        |             round(min(val), 6) AS min_v,
        |             round(max(val), 6) AS max_v
        |      FROM x GROUP BY dim)
        |SELECT dim, n,
        |       round(s / n / 1e6, 6) AS mean,
        |       round(sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) / 1e6, 6) AS std,
        |       min_v, max_v
        |FROM a ORDER BY dim""".stripMargin,

    "embedding_project" ->
      s"""WITH $embCte
         |SELECT vec_id,
         |       $projColsSql
         |FROM e ORDER BY vec_id""".stripMargin,

    "ann_bruteforce" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("q", "c")}, 6) AS cos_sim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, cos_sim, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_lsh" ->
      s"""WITH $embCte,
         |bits AS (SELECT vec_id,
         |         $lshBitsSql
         |       FROM e),
         |bk AS (SELECT vec_id,
         |       $lshBandKeySql
         |       FROM bits),
         |cb AS ($lshBucketsUnion),
         |cand AS (SELECT DISTINCT q.id AS q_id, c.id AS c_id
         |         FROM cb c JOIN cb q ON c.band = q.band AND c.band_key = q.band_key
         |         WHERE q.id < 10 AND q.id <> c.id),
         |sc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |       FROM cand JOIN e qe ON qe.vec_id = q_id
         |                 JOIN e ce ON ce.vec_id = c_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, cos_sim, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_radius" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("q", "c")}, 6) AS cos_sim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id)
         |SELECT q_id, c_id, cos_sim FROM sc
         |WHERE cos_sim >= 0.25
         |ORDER BY q_id, c_id""".stripMargin,

    // Same 8×8 chunk slices and Σ max chunk-dot interaction, normalized
    // by the full-vector norms.
    "ann_maxsim" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 8),
         |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(list_sum(list_transform(generate_series(0, 7), i ->
         |             list_max(list_transform(generate_series(0, 7), j ->
         |               list_inner_product(q.v[i*8+1 : i*8+8],
         |                                  c.v[j*8+1 : j*8+8])))))
         |           / (q.nrm * c.nrm), 6) AS maxsim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                ORDER BY maxsim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, maxsim, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    // Identical to ann_lsh except the query-side buckets expand to the
    // Hamming-1 probe set (xor with 0 and each single bit of the band).
    "ann_multiprobe" ->
      s"""WITH $embCte,
         |bits AS (SELECT vec_id,
         |         $lshBitsSql
         |       FROM e),
         |bk AS (SELECT vec_id,
         |       $lshBandKeySql
         |       FROM bits),
         |cb AS ($lshBucketsUnion),
         |qp AS (SELECT id, band, xor(band_key, f) AS band_key
         |       FROM cb CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS f) fs
         |       WHERE id < 10),
         |cand AS (SELECT DISTINCT q.id AS q_id, c.id AS c_id
         |         FROM cb c JOIN qp q ON c.band = q.band AND c.band_key = q.band_key
         |         WHERE q.id <> c.id),
         |sc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |       FROM cand JOIN e qe ON qe.vec_id = q_id
         |                 JOIN e ce ON ce.vec_id = c_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, cos_sim, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_recall_eval" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |bf AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("q", "c")}, 6) AS cos_sim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         |bfr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM bf),
         |bft AS (SELECT q_id, c_id FROM bfr WHERE rank <= 10),
         |bits AS (SELECT vec_id,
         |         $lshBitsSql
         |       FROM e),
         |bk AS (SELECT vec_id,
         |       $lshBandKeySql
         |       FROM bits),
         |cb AS ($lshBucketsUnion),
         |cand AS (SELECT DISTINCT q.id AS q_id, c.id AS c_id
         |         FROM cb c JOIN cb q ON c.band = q.band AND c.band_key = q.band_key
         |         WHERE q.id < 10 AND q.id <> c.id),
         |lsc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |        FROM cand JOIN e qe ON qe.vec_id = q_id
         |                  JOIN e ce ON ce.vec_id = c_id),
         |lr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos_sim DESC, c_id) AS rank FROM lsc),
         |lt AS (SELECT q_id, c_id FROM lr WHERE rank <= 10)
         |SELECT bft.q_id AS q_id, count(lt.c_id) AS hits,
         |       round(count(lt.c_id) / 10.0, 6) AS recall
         |FROM bft LEFT JOIN lt ON lt.q_id = bft.q_id AND lt.c_id = bft.c_id
         |GROUP BY bft.q_id ORDER BY bft.q_id""".stripMargin,

    // Same reverse-cumsum fit over the identical token counts.
    "data_sft_pack" ->
      s"""WITH t AS (SELECT doc_id, doc_id // 8 AS conv_id,
         |             doc_id % 8 AS turn_idx,
         |             CAST(len($wordsSql) AS BIGINT) AS n_tokens
         |           FROM documents),
         |r AS (SELECT *,
         |        CASE WHEN turn_idx % 2 = 0 THEN 'user'
         |             ELSE 'assistant' END AS role,
         |        CAST(sum(n_tokens) OVER (PARTITION BY conv_id
         |               ORDER BY turn_idx DESC
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rev_cum
         |      FROM t)
         |SELECT conv_id, turn_idx, role, n_tokens,
         |       rev_cum <= 256 AS kept,
         |       rev_cum <= 256 AND role = 'assistant' AS loss_mask
         |FROM r ORDER BY conv_id, turn_idx""".stripMargin,

    // Full-dim vs first-16-dims rankings, same join-and-count recall.
    "ann_matryoshka_eval" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |bf AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("q", "c")}, 6) AS cos_sim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         |bfr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM bf),
         |bft AS (SELECT q_id, c_id FROM bfr WHERE rank <= 10),
         |t AS (SELECT vec_id, v[1:16] AS v,
         |        sqrt(list_inner_product(v[1:16], v[1:16])) AS nrm FROM e),
         |tq AS (SELECT * FROM t WHERE vec_id < 10),
         |ts AS (SELECT tq.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("tq", "c")}, 6) AS cos_sim
         |       FROM tq JOIN t c ON c.vec_id <> tq.vec_id),
         |tr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos_sim DESC, c_id) AS rank FROM ts),
         |tt AS (SELECT q_id, c_id FROM tr WHERE rank <= 10)
         |SELECT bft.q_id AS q_id, count(tt.c_id) AS hits,
         |       round(count(tt.c_id) / 10.0, 6) AS recall_at_10
         |FROM bft LEFT JOIN tt ON tt.q_id = bft.q_id AND tt.c_id = bft.c_id
         |GROUP BY bft.q_id ORDER BY bft.q_id""".stripMargin,

    // Same two ranked lists, same max(rank) depth expansion, same
    // literal p-power weights.
    "ann_rbo_eval" ->
      s"""WITH $embCte,
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |bf AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |         round(${cos("q", "c")}, 6) AS cos_sim
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         |bfr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS ra FROM bf),
         |bft AS (SELECT q_id, c_id, ra FROM bfr WHERE ra <= 10),
         |bits AS (SELECT vec_id,
         |         $lshBitsSql
         |       FROM e),
         |bk AS (SELECT vec_id,
         |       $lshBandKeySql
         |       FROM bits),
         |cb AS ($lshBucketsUnion),
         |cand AS (SELECT DISTINCT q.id AS q_id, c.id AS c_id
         |         FROM cb c JOIN cb q ON c.band = q.band AND c.band_key = q.band_key
         |         WHERE q.id < 10 AND q.id <> c.id),
         |lsc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |        FROM cand JOIN e qe ON qe.vec_id = q_id
         |                  JOIN e ce ON ce.vec_id = c_id),
         |lr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos_sim DESC, c_id) AS rb FROM lsc),
         |lt AS (SELECT q_id, c_id, rb FROM lr WHERE rb <= 10),
         |j AS (SELECT bft.q_id, greatest(bft.ra, lt.rb) AS rmax
         |      FROM bft JOIN lt ON lt.q_id = bft.q_id AND lt.c_id = bft.c_id),
         |terms AS (SELECT q_id, unnest(generate_series(rmax, 10)) AS d FROM j),
         |tc AS (SELECT q_id, d, count(*) AS x FROM terms GROUP BY 1, 2),
         |qs AS (SELECT vec_id AS q_id FROM e WHERE vec_id < 10)
         |SELECT qs.q_id,
         |       round(0.09999999999999998 *
         |         coalesce(sum(x * (${rboWeightCase("d")}) / d), 0.0), 6) AS rbo,
         |       CAST(coalesce(max(CASE WHEN d = 10 THEN x END), 0) AS BIGINT)
         |         AS overlap_at_10
         |FROM qs LEFT JOIN tc ON tc.q_id = qs.q_id
         |GROUP BY qs.q_id ORDER BY qs.q_id""".stripMargin,

    "q_time_to_convert" ->
      """WITH p AS (SELECT user_id,
        |             min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END) AS fv,
        |             min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS fp
        |           FROM events GROUP BY 1),
        |d AS (SELECT (fp - fv) // 60000 AS mins FROM p
        |      WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv)
        |SELECT count(*) AS n_converted,
        |       CAST((CAST(sum(mins) AS BIGINT) * 100) // count(*) AS BIGINT)
        |         / 100.0 AS mean_mins,
        |       round(quantile_cont(mins, 0.5), 4) AS p50_mins,
        |       round(quantile_cont(mins, 0.9), 4) AS p90_mins
        |FROM d""".stripMargin,

    "ann_rrf_fusion" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |$pqScoreCtes,
         |pt AS (SELECT q_id, c_id, rank AS r_pq FROM r WHERE rank <= 10),
         |bits AS (SELECT vec_id,
         |         $lshBitsSql
         |       FROM e),
         |bk AS (SELECT vec_id,
         |       $lshBandKeySql
         |       FROM bits),
         |cb AS ($lshBucketsUnion),
         |cand AS (SELECT DISTINCT q.id AS q_id, c.id AS c_id
         |         FROM cb c JOIN cb q ON c.band = q.band AND c.band_key = q.band_key
         |         WHERE q.id < 10 AND q.id <> c.id),
         |lsc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |        FROM cand JOIN e qe ON qe.vec_id = q_id
         |                  JOIN e ce ON ce.vec_id = c_id),
         |lr AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos_sim DESC, c_id) AS rank FROM lsc),
         |lt AS (SELECT q_id, c_id, rank AS r_lsh FROM lr WHERE rank <= 10),
         |f AS (SELECT COALESCE(lt.q_id, pt.q_id) AS q_id,
         |             COALESCE(lt.c_id, pt.c_id) AS c_id,
         |             round(COALESCE(1.0::DOUBLE / (lt.r_lsh + 60), 0) +
         |                   COALESCE(1.0::DOUBLE / (pt.r_pq + 60), 0), 6) AS rrf
         |      FROM lt FULL JOIN pt ON pt.q_id = lt.q_id AND pt.c_id = lt.c_id),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY rrf DESC, c_id) AS rank FROM f)
         |SELECT q_id, c_id, rrf, rank FROM fr WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_ivf" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         |asg AS (SELECT c_id, cell_id FROM (
         |          SELECT e.vec_id AS c_id, cent.cell_id,
         |                 row_number() OVER (PARTITION BY e.vec_id
         |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
         |                            cent.cell_id) AS rn
         |          FROM e CROSS JOIN cent) t WHERE rn = 1),
         |q AS (SELECT * FROM e WHERE vec_id < 10),
         |probes AS (SELECT q_id, cell_id FROM (
         |             SELECT q.vec_id AS q_id, cent.cell_id,
         |                    row_number() OVER (PARTITION BY q.vec_id
         |                      ORDER BY round(list_inner_product(q.v, cent.cv) / (q.nrm * cent.cn), 6) DESC,
         |                               cent.cell_id) AS rn
         |             FROM q CROSS JOIN cent) t WHERE rn <= 6),
         |cand AS (SELECT q_id, c_id FROM probes JOIN asg USING (cell_id)
         |         WHERE q_id <> c_id),
         |sc AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |       FROM cand JOIN e qe ON qe.vec_id = q_id
         |                 JOIN e ce ON ce.vec_id = c_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                ORDER BY cos_sim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, cos_sim, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_pq" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |$pqScoreCtes
         |SELECT q_id, c_id, adc_micro, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "ann_filtered" ->
      s"""WITH $embCte,
         |q AS (SELECT vec_id AS q_id, label AS qf, v, nrm FROM e WHERE vec_id < 10),
         |sc AS (SELECT q.q_id, c.vec_id AS c_id,
         |              round(list_inner_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cos_sim
         |       FROM q JOIN e c ON c.label = q.qf AND c.vec_id <> q.q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos_sim DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, cos_sim, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "ann_ivfpq" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
         |asg AS (SELECT c_id, cell_id FROM (
         |          SELECT e.vec_id AS c_id, cent.cell_id,
         |                 row_number() OVER (PARTITION BY e.vec_id
         |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
         |                            cent.cell_id) AS rn
         |          FROM e CROSS JOIN cent) t WHERE rn = 1),
         |probes AS (SELECT q_id, cell_id FROM (
         |             SELECT qq.q_id, cent.cell_id,
         |                    row_number() OVER (PARTITION BY qq.q_id
         |                      ORDER BY round(list_inner_product(qq.v, cent.cv) / (qq.nrm * cent.cn), 6) DESC,
         |                               cent.cell_id) AS rn
         |             FROM qq CROSS JOIN cent) t WHERE rn <= 6),
         |cand AS (SELECT q_id, c_id FROM probes JOIN asg USING (cell_id)
         |         WHERE q_id <> c_id),
         |sc AS (SELECT cand.q_id, cand.c_id,
         |              CAST(sum(ip_micro) AS BIGINT) AS adc_micro
         |       FROM cand
         |       JOIN enc ON enc.c_id = cand.c_id
         |       JOIN lut ON lut.q_id = cand.q_id AND lut.j = enc.j
         |              AND lut.code_id = enc.code_id
         |       GROUP BY cand.q_id, cand.c_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY adc_micro DESC, c_id) AS rank FROM sc)
         |SELECT q_id, c_id, adc_micro, rank FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "cluster_assign" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
         |asg AS (SELECT c_id, cell_id, sim FROM (
         |          SELECT e.vec_id AS c_id, cent.cell_id,
         |                 round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) AS sim,
         |                 row_number() OVER (PARTITION BY e.vec_id
         |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
         |                            cent.cell_id) AS rn
         |          FROM e CROSS JOIN cent) t WHERE rn = 1)
         |SELECT c_id, cell_id, sim FROM asg ORDER BY c_id""".stripMargin,

    // Purity replay: the cluster_assign CTEs feed a label join, the
    // packed-2²¹ modal argmax, and one micro division.
    "cluster_purity" ->
      s"""WITH $labelContingencyCtes,
         |per AS (SELECT cell_id, count(*) AS n_labels,
         |          CAST(sum(n) AS BIGINT) AS n_points,
         |          max(n * 2097152 + (2097151 - label)) AS pmax
         |        FROM cells GROUP BY 1),
         |tot AS (SELECT sum(pmax // 2097152) AS sm, sum(n_points) AS sp FROM per)
         |SELECT cell_id, n_labels, n_points,
         |       CAST(2097151 - (pmax % 2097152) AS BIGINT) AS modal_label,
         |       CAST(pmax // 2097152 AS BIGINT) AS modal_n,
         |       ((sm * 1000000) // sp) / 1e6 AS purity
         |FROM per CROSS JOIN tot ORDER BY cell_id""".stripMargin,

    // Rand index replay: same contingency, the ½-cancelled pair algebra
    // in HUGEINT, one division.
    "cluster_rand_index" ->
      s"""WITH $labelContingencyCtes,
         |tij AS (SELECT sum(CAST(n AS HUGEINT) * (n - 1)) AS t_ij FROM cells),
         |ti AS (SELECT sum(CAST(a AS HUGEINT) * (a - 1)) AS t_i,
         |              CAST(sum(a) AS BIGINT) AS n_tot,
         |              count(*) AS n_clusters
         |       FROM (SELECT cell_id, sum(n) AS a FROM cells GROUP BY 1)),
         |tj AS (SELECT sum(CAST(b AS HUGEINT) * (b - 1)) AS t_j,
         |              count(*) AS n_classes
         |       FROM (SELECT label, sum(n) AS b FROM cells GROUP BY 1))
         |SELECT n_tot, n_clusters, n_classes,
         |       (((CAST(n_tot AS HUGEINT) * (n_tot - 1) + 2 * t_ij - t_i - t_j)
         |         * 1000000) // (CAST(n_tot AS HUGEINT) * (n_tot - 1))) / 1e6
         |         AS rand_index
         |FROM ti CROSS JOIN tij CROSS JOIN tj""".stripMargin,

    // Same seed-prefix centroids, round-6 top-2 similarities with the
    // cell_id tie-break, and exact micro-unit silhouette scores.
    "cluster_silhouette" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
         |sc AS (SELECT e.vec_id AS c_id, cent.cell_id,
         |         round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) AS sim
         |       FROM e CROSS JOIN cent),
         |r AS (SELECT *, row_number() OVER (PARTITION BY c_id
         |                ORDER BY sim DESC, cell_id) AS rn FROM sc),
         |p AS (SELECT c_id,
         |        max(CASE WHEN rn = 1 THEN cell_id END) AS cell_id,
         |        max(CASE WHEN rn = 1 THEN sim END) AS s1,
         |        max(CASE WHEN rn = 2 THEN sim END) AS s2
         |      FROM r WHERE rn <= 2 GROUP BY c_id),
         |m AS (SELECT c_id, cell_id,
         |        CASE WHEN s2 >= 1.0 THEN 0
         |             ELSE CAST(round((s1 - s2) / (1.0 - s2) * 1e6) AS BIGINT)
         |        END AS sil
         |      FROM p)
         |SELECT cell_id, count(*) AS n,
         |       round(CAST(sum(sil) AS DOUBLE) / count(*) / 1e6, 4) AS mean_silhouette,
         |       round(min(sil) / 1e6, 6) AS min_silhouette,
         |       round(max(sil) / 1e6, 6) AS max_silhouette
         |FROM m GROUP BY cell_id ORDER BY cell_id""".stripMargin,

    // SemDeDup oracle: shares cluster_assign's assignment CTE; pairs
    // join on the cell, dominance is a CASE over (cent_sim, -id).
    "dedup_semantic" ->
      s"""WITH $embCte,
         |cent AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |         ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
         |asg AS (SELECT c_id, cell_id, cent_sim FROM (
         |          SELECT e.vec_id AS c_id, cent.cell_id,
         |                 round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) AS cent_sim,
         |                 row_number() OVER (PARTITION BY e.vec_id
         |                   ORDER BY round(list_inner_product(e.v, cent.cv) / (e.nrm * cent.cn), 6) DESC,
         |                            cent.cell_id) AS rn
         |          FROM e CROSS JOIN cent) t WHERE rn = 1),
         |p AS (SELECT a.c_id AS id_a, b.c_id AS id_b,
         |             a.cent_sim AS sim_a, b.cent_sim AS sim_b
         |      FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.c_id < b.c_id
         |      JOIN e ea ON ea.vec_id = a.c_id JOIN e eb ON eb.vec_id = b.c_id
         |      WHERE round(list_inner_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) >= 0.3),
         |losers AS (SELECT DISTINCT CASE WHEN sim_a > sim_b OR (sim_a = sim_b AND id_a < id_b)
         |                                THEN id_b ELSE id_a END AS vec_id FROM p)
         |SELECT a.c_id AS vec_id, a.cell_id, a.cent_sim FROM asg a
         |WHERE a.c_id NOT IN (SELECT vec_id FROM losers)
         |ORDER BY vec_id""".stripMargin,

    // Full iterative k-means: micro-unit integer means make each
    // centroid update order-independent, so both Lloyd iterations
    // unroll as deterministic CTEs (assign -> integer means -> new
    // centroids with empty-cell carry-over), mirroring
    // Similarity.kmeans(exactMeans = true) bit-for-bit.
    "cluster_kmeans" -> {
      def asgCte(name: String, cent: String) =
        s"""$name AS (SELECT c_id, cell_id, sim FROM (
           |  SELECT e.vec_id AS c_id, c.cell_id,
           |         round(list_inner_product(e.v, c.cv) / (e.nrm * c.cn), 6) AS sim,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY round(list_inner_product(e.v, c.cv) / (e.nrm * c.cn), 6) DESC,
           |                    c.cell_id) AS rn
           |  FROM e CROSS JOIN $cent c) t WHERE rn = 1)""".stripMargin
      def stepCtes(i: Int, prevAsg: String, prevCent: String, newCent: String) =
        s"""m$i AS (SELECT a.cell_id, ex.dim,
           |         (CAST(sum(CAST(round(ex.x * 1e6) AS BIGINT)) AS BIGINT) / count(*)) / 1e6 AS mean
           |       FROM $prevAsg a JOIN ex ON ex.vec_id = a.c_id
           |       GROUP BY a.cell_id, ex.dim),
           |mm$i AS (SELECT cell_id, list(mean ORDER BY dim) AS cv FROM m$i GROUP BY cell_id),
           |$newCent AS (SELECT cell_id, cv, sqrt(list_inner_product(cv, cv)) AS cn FROM (
           |  SELECT cell_id, cv FROM mm$i
           |  UNION ALL
           |  SELECT c.cell_id, c.cv FROM $prevCent c
           |  WHERE c.cell_id NOT IN (SELECT cell_id FROM mm$i)) u)""".stripMargin
      s"""WITH $embCte,
         |ex AS (SELECT vec_id, unnest(v) AS x,
         |              unnest(generate_series(1, len(v))) AS dim FROM e),
         |cent0 AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
         |          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
         |${asgCte("asg0", "cent0")},
         |${stepCtes(0, "asg0", "cent0", "cent1")},
         |${asgCte("asg1", "cent1")},
         |${stepCtes(1, "asg1", "cent1", "cent2")},
         |${asgCte("asg2", "cent2")}
         |SELECT c_id, cell_id, sim FROM asg2 ORDER BY c_id""".stripMargin
    },

    "ann_filtered_ivfpq" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |$filteredIvfPqCtes
         |SELECT q_id, c_id, adc_micro, rank FROM r WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "ann_filtered_rerank" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |$filteredIvfPqCtes,
         |cand2 AS (SELECT q_id, c_id FROM r WHERE rank <= 15),
         |sc2 AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |        FROM cand2 JOIN e qe ON qe.vec_id = q_id
         |                   JOIN e ce ON ce.vec_id = c_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                 ORDER BY cos_sim DESC, c_id) AS rank FROM sc2)
         |SELECT q_id, c_id, cos_sim, rank FROM r2 WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin,

    "ann_pq_rerank" ->
      s"""WITH $embCte,
         |$pqBaseCtes,
         |$pqScoreCtes,
         |cand AS (SELECT q_id, c_id FROM r WHERE rank <= 30),
         |sc2 AS (SELECT q_id, c_id, round(${cos("qe", "ce")}, 6) AS cos_sim
         |        FROM cand JOIN e qe ON qe.vec_id = q_id
         |                  JOIN e ce ON ce.vec_id = c_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY q_id
         |                 ORDER BY cos_sim DESC, c_id) AS rank FROM sc2)
         |SELECT q_id, c_id, cos_sim, rank FROM r2 WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin,

    "text_tokens" -> {
      // SQL string literal: double the quotes; backslashes pass through
      val bpe = graft.operators.TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""SELECT doc_id, len($wordsSql) AS n_tokens,
         |       len(regexp_extract_all(text, '$bpe')) AS n_tokens_bpe,
         |       length(text) AS n_chars
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "text_quality" ->
      s"""SELECT doc_id,
         |  round(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / length(text), 4) AS punct_ratio,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
         |  round(len(list_filter($wordsSql, w -> w IN ($stopList))) * 1.0 / len($wordsSql), 4) AS stopword_ratio,
         |  round(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len($wordsSql), 4) AS mean_word_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_gopher_rules" ->
      s"""WITH w AS (SELECT doc_id, text, $wordsSql AS l,
         |         string_split(text, chr(10)) AS ln FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(l) AS BIGINT) AS n_words,
         |        round(list_sum(list_transform(l, x -> length(x))) * 1.0 / len(l), 4) AS mean_word_len,
         |        round((length(text) - length(replace(text, '#', ''))
         |             + length(text) - length(replace(text, '…', ''))) * 1.0 / len(l), 4) AS symbol_ratio,
         |        round(len(list_filter(ln, x -> substr(ltrim(x), 1, 1) IN ('-', '*', '•'))) * 1.0 / len(ln), 4) AS bullet_ratio,
         |        round(len(list_filter(ln, x -> ends_with(rtrim(x), '...'))) * 1.0 / len(ln), 4) AS ellipsis_ratio,
         |        round(len(list_filter(l, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(l), 4) AS alpha_word_ratio,
         |        CAST(len(list_filter(l, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS stop_hits
         |      FROM w)
         |SELECT *, (n_words >= 50 AND n_words <= 100000
         |       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
         |       AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
         |       AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
         |       AND stop_hits >= 2) AS pass
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_langid" -> {
      val scoreCols = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val in = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(l, w -> w IN ($in))) AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val pred = langs.zipWithIndex.init.foldRight(s"'${langs.last}'") {
        case ((lang, i), elseSql) =>
          val conds = langs.drop(i + 1).map(o => s"score_$lang >= score_$o").mkString(" AND ")
          s"CASE WHEN $conds THEN '$lang' ELSE $elseSql END"
      }
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |sc AS (SELECT doc_id,
         |  $scoreCols
         |FROM w)
         |SELECT doc_id, $pred AS pred_lang,
         |       score_en, score_es, score_fr, score_de
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    // Repetition ratios: the top-word count is replayed by unnest +
    // group instead of the Spark side's sorted-run fold — same max.
    "text_repetition" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |f AS (SELECT doc_id, max(c) AS mx FROM (
         |        SELECT doc_id, x, count(*) AS c
         |        FROM (SELECT doc_id, unnest(l) AS x FROM w)
         |        GROUP BY doc_id, x)
         |      GROUP BY doc_id)
         |SELECT w.doc_id, len(l) AS n_words,
         |       round(len(list_distinct(l)) * 1.0 / len(l), 4) AS distinct_word_ratio,
         |       round(f.mx * 1.0 / len(l), 4) AS top_word_ratio,
         |       CASE WHEN len(l) >= 2 THEN
         |         round(1.0 - len(list_distinct(list_transform(
         |                 generate_series(1, len(l) - 1),
         |                 i -> l[i] || ' ' || l[i+1]))) * 1.0 / (len(l) - 1), 4)
         |       END AS dup_bigram_ratio
         |FROM w JOIN f ON f.doc_id = w.doc_id
         |ORDER BY w.doc_id""".stripMargin,

    "text_topterms" ->
      s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS word FROM documents)
         |SELECT word, count(*) AS n_occurrences,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM t GROUP BY word
         |ORDER BY n_occurrences DESC, word LIMIT 20""".stripMargin,

    // Same islands construction (1-based positions — island ids differ
    // by a constant from Spark's 0-based, which the grouping ignores),
    // same exact integer micro-unit word scores.
    "text_keyphrase" ->
      s"""WITH $wordCte,
         |pw AS (SELECT doc_id, unnest(l) AS w,
         |         unnest(generate_series(1, len(l))) AS pos
         |       FROM w),
         |ns AS (SELECT doc_id, w, pos FROM pw
         |       WHERE w NOT IN ($stopList) AND w <> ''),
         |isl AS (SELECT doc_id, w, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM ns),
         |ph AS (SELECT doc_id, grp,
         |         string_agg(w, ' ' ORDER BY pos) AS phrase,
         |         count(*) AS plen
         |       FROM isl GROUP BY 1, 2),
         |mem AS (SELECT doc_id, grp, phrase, plen,
         |          unnest(string_split(phrase, ' ')) AS w
         |        FROM ph),
         |ws AS (SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
         |       FROM mem GROUP BY 1),
         |sm AS (SELECT w, (deg * 1000000) // freq AS smicro FROM ws),
         |po AS (SELECT doc_id, grp, phrase,
         |         CAST(sum(smicro) AS BIGINT) AS score_micro
         |       FROM mem JOIN sm USING (w) GROUP BY 1, 2, 3)
         |SELECT phrase, count(*) AS n_occurrences,
         |       max(score_micro) AS score_micro,
         |       max(score_micro) / 1e6 AS score
         |FROM po GROUP BY phrase
         |ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin,

    // Same adjacent-pair construction (1-based list indexing; DuckDB's
    // generate_series(1, 0) is already empty, so no length guard) and the
    // identical double PMI formula.
    "text_pmi" ->
      s"""WITH $wordCte,
         |bg AS (SELECT l[k] AS w1, l[k+1] AS w2
         |       FROM (SELECT l, unnest(generate_series(1, len(l) - 1)) AS k
         |             FROM w) t),
         |bgc AS (SELECT w1, w2, count(*) AS cxy FROM bg GROUP BY 1, 2
         |        HAVING count(*) >= 5),
         |uni AS (SELECT unnest(l) AS word FROM w),
         |uc AS (SELECT word, count(*) AS cw FROM uni GROUP BY 1),
         |tot AS (SELECT (SELECT count(*) FROM bg) AS nb,
         |               (SELECT count(*) FROM uni) AS nu)
         |SELECT w1, w2, cxy, x.cw AS cx, y.cw AS cy,
         |       round(log2((CAST(cxy AS DOUBLE) / CAST(nb AS DOUBLE))
         |         / ((CAST(x.cw AS DOUBLE) / CAST(nu AS DOUBLE))
         |          * (CAST(y.cw AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
         |FROM bgc JOIN uc x ON x.word = w1
         |         JOIN uc y ON y.word = w2
         |CROSS JOIN tot
         |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    // Same vowel-group syllable heuristic and Flesch constants.
    "text_readability" ->
      s"""WITH b AS (SELECT doc_id, $wordsSql AS l,
         |             len(list_filter(string_split_regex(text, '[.!?]+'),
         |                             x -> trim(x) <> ''))::BIGINT AS ns0
         |           FROM documents),
         |m AS (SELECT doc_id, len(l)::BIGINT AS n_words,
         |        greatest(ns0, 1) AS n_sentences,
         |        CAST(list_sum(list_transform(l, w ->
         |          greatest(1, len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT)
         |          AS n_syllables
         |      FROM b)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  round(206.835
         |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 4)
         |    AS flesch_ease,
         |  round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         |    - 15.59, 4) AS fk_grade
         |FROM m ORDER BY doc_id""".stripMargin,

    "text_lexical_diversity" ->
      s"""WITH t AS (SELECT source, unnest($wordsSql) AS word FROM documents),
         |wc AS (SELECT source, word, count(*) AS n FROM t GROUP BY 1, 2)
         |SELECT source,
         |       CAST(sum(n) AS BIGINT) AS n_tokens,
         |       count(*) AS n_types,
         |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |       round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS ttr,
         |       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
         |FROM wc GROUP BY source ORDER BY source""".stripMargin,

    // Same |vocab| × |sources| expansion with explicit zero-p rows via
    // the left join; natural log; identical rounding.
    "text_js_divergence" ->
      s"""WITH t AS (SELECT source, unnest($wordsSql) AS word FROM documents),
         |sw AS (SELECT source, word, count(*) AS c FROM t GROUP BY 1, 2),
         |stot AS (SELECT source, sum(c) AS n_s FROM sw GROUP BY 1),
         |cw AS (SELECT word, sum(c) AS cc FROM sw GROUP BY 1),
         |ctot AS (SELECT sum(cc) AS n_c FROM cw),
         |x AS (SELECT s.source, w.word, sw.c, s.n_s, w.cc, ctot.n_c
         |      FROM cw w CROSS JOIN stot s
         |      LEFT JOIN sw ON sw.source = s.source AND sw.word = w.word
         |      CROSS JOIN ctot),
         |y AS (SELECT source, c, n_s,
         |        coalesce(c, 0) * 1.0 / n_s AS p, cc * 1.0 / n_c AS q
         |      FROM x),
         |z AS (SELECT source, c, n_s,
         |        CAST(round((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2
         |                         ELSE 0 END
         |                    + q * ln(q / ((p + q) / 2)) / 2) * 1e12) AS BIGINT)
         |          AS pico
         |      FROM y)
         |SELECT source,
         |       ((CAST(sum(pico) AS BIGINT) + 500000) // 1000000) / 1e6 AS jsd,
         |       count(CASE WHEN c IS NOT NULL THEN 1 END) AS n_shared_vocab,
         |       CAST(max(n_s) AS BIGINT) AS n_tokens
         |FROM z GROUP BY source ORDER BY source""".stripMargin,

    // Same md5-seeded inverse-CDF Laplace draw per group key.
    "data_dp_noise" ->
      """WITH g AS (SELECT source, lang, count(*) AS n
        |           FROM documents GROUP BY 1, 2),
        |u AS (SELECT *, ('0x' || substr(md5(source || '|' || lang), 1, 12))::BIGINT
        |             / 281474976710656.0 AS u
        |      FROM g)
        |SELECT source, lang, n,
        |       round(-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 6) AS noise,
        |       round(n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))), 6)
        |         AS noisy_n
        |FROM u ORDER BY source, lang""".stripMargin,

    // Per-character unnest + DuckDB's native entropy() aggregate (log2,
    // same base as CharStats); length() counts characters on both sides.
    "text_entropy" ->
      """WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents WHERE length(text) > 0)
        |SELECT doc_id, count(*)::INT AS chars,
        |       count(DISTINCT ch)::INT AS uniq_chars,
        |       round(entropy(ch), 4) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Content identity through the fragment → compact → read-back cycle.
    "data_compact" ->
      """SELECT event_id, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    // Time travel replay: operations ≤ N composed in SQL — v1 = base
    // overridden by the even-key delta; v2 = v1 overridden by the
    // third-key delta (values from BASE state: LWW replaces the whole
    // row) plus the insert; v3 (compaction) is content-identical to v2.
    "q_time_travel" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |v1 AS (SELECT k,
        |         CASE WHEN k % 2 = 0 THEN 'U1' ELSE seg END AS seg,
        |         CASE WHEN k % 2 = 0 THEN cents + 111 ELSE cents END AS cents
        |       FROM c),
        |v2 AS (SELECT v1.k,
        |         CASE WHEN v1.k % 3 = 0 THEN 'U2' ELSE v1.seg END AS seg,
        |         CASE WHEN v1.k % 3 = 0 THEN c.cents + 777
        |              ELSE v1.cents END AS cents
        |       FROM v1 JOIN c ON v1.k = c.k
        |       UNION ALL
        |       SELECT CAST(-1 AS BIGINT), 'NEW', CAST(4242 AS BIGINT))
        |SELECT CAST(1 AS BIGINT) AS as_of, k AS c_custkey,
        |       seg AS c_mktsegment, cents AS acctbal_cents FROM v1
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), k, seg, cents FROM v2
        |ORDER BY as_of, c_custkey""".stripMargin,

    // Delete replay: as-of 1 = base minus the tombstoned fifths; as-of
    // 2 = that state plus the seventh-key upsert, which REVIVES the
    // multiples of 35 with the upsert's values.
    "q_time_travel_delete" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |v1 AS (SELECT k, seg, cents FROM c WHERE k % 5 <> 0),
        |v2 AS (SELECT k,
        |         CASE WHEN k % 7 = 0 THEN 'U7' ELSE seg END AS seg,
        |         CASE WHEN k % 7 = 0 THEN cents + 55 ELSE cents END AS cents
        |       FROM c WHERE k % 5 <> 0 OR k % 7 = 0)
        |SELECT CAST(1 AS BIGINT) AS as_of, k AS c_custkey,
        |       seg AS c_mktsegment, cents AS acctbal_cents FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), k, seg, cents FROM v2
        |ORDER BY as_of, c_custkey""".stripMargin,

    // Change-feed replay: the two deltas verbatim, tagged with their
    // commit version; the only insert is key -1 at v1 (its v2 row is
    // an update — per-commit tagging); the compaction adds no rows.
    "q_table_changes" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |d1 AS (SELECT k, 'U1' AS seg, cents + 111 AS cents,
        |              CAST(1 AS BIGINT) AS v
        |       FROM c WHERE k % 2 = 0
        |       UNION ALL
        |       SELECT CAST(-1 AS BIGINT), 'NEW', CAST(4242 AS BIGINT),
        |              CAST(1 AS BIGINT)),
        |d2 AS (SELECT k, 'U2' AS seg, cents + 777 AS cents,
        |              CAST(2 AS BIGINT) AS v
        |       FROM c WHERE k % 3 = 0
        |       UNION ALL
        |       SELECT CAST(-1 AS BIGINT), 'NEW2', CAST(4343 AS BIGINT),
        |              CAST(2 AS BIGINT))
        |SELECT k AS c_custkey, seg AS c_mktsegment, cents AS acctbal_cents,
        |       v AS _commit_version,
        |       CASE WHEN k = -1 AND v = 1 THEN 'insert'
        |            ELSE 'update' END AS _change_type
        |FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |ORDER BY _commit_version, c_custkey""".stripMargin,

    // Vacuum safety: the surviving (compacted) snapshot still equals
    // the full replay of all operations — same v1/v2 composition as
    // q_time_travel, minus the insert (this chain has none).
    "q_time_travel_vacuum" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |v1 AS (SELECT k,
        |         CASE WHEN k % 2 = 0 THEN 'U1' ELSE seg END AS seg,
        |         CASE WHEN k % 2 = 0 THEN cents + 111 ELSE cents END AS cents
        |       FROM c)
        |SELECT v1.k AS c_custkey,
        |       CASE WHEN v1.k % 3 = 0 THEN 'U2' ELSE v1.seg END AS c_mktsegment,
        |       CASE WHEN v1.k % 3 = 0 THEN c.cents + 777
        |            ELSE v1.cents END AS acctbal_cents
        |FROM v1 JOIN c ON v1.k = c.k ORDER BY c_custkey""".stripMargin,

    // Additive-column replay: rows the delta touched carry the new
    // column's value; every other row reads NULL there (merge-on-read
    // fill — the base was never rewritten).
    "q_schema_evolution" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |       CASE WHEN c_custkey % 2 = 0 THEN 'U1'
        |            ELSE c_mktsegment END AS c_mktsegment,
        |       CASE WHEN c_custkey % 2 = 0
        |            THEN CAST(floor(c_acctbal * 100) AS BIGINT) + 111
        |            ELSE CAST(floor(c_acctbal * 100) AS BIGINT) END
        |         AS acctbal_cents,
        |       CASE WHEN c_custkey % 2 = 0
        |            THEN CAST(c_custkey AS BIGINT) % 5 END AS quality
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Point-lookup replay: the v2 state restricted to the queried keys
    // — keys ending in 3 carry the v2 update, the rest read the base;
    // the v1 high-key inserts (+1M) are outside the point set. File
    // skipping is graded by the in-code inputFiles require; the hash
    // grades that pruning never changed WHAT the points read.
    "q_time_travel_point" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer)
        |SELECT k AS c_custkey,
        |       CASE WHEN k % 10 = 3 THEN 'P2' ELSE seg END AS c_mktsegment,
        |       CASE WHEN k % 10 = 3 THEN cents + 99 ELSE cents END
        |         AS acctbal_cents
        |FROM c WHERE k IN (3, 42, 57) ORDER BY c_custkey""".stripMargin,

    "q_time_travel_bucketed" ->
      """WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg,
        |             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        |           FROM customer),
        |s AS (SELECT k,
        |        CASE WHEN k % 10 = 3 THEN 'B1' ELSE seg END AS seg,
        |        CASE WHEN k % 10 = 3 THEN cents + 77 ELSE cents END AS cents
        |      FROM c)
        |SELECT 'full' AS part, k AS c_custkey, seg AS c_mktsegment,
        |       cents AS acctbal_cents FROM s
        |UNION ALL
        |SELECT 'point', k, seg, cents FROM s WHERE k IN (3, 13, 23)
        |ORDER BY part, c_custkey""".stripMargin,

    // Incremental-reindex replay as a FULL REBUILD: the v2 corpus state
    // composed in SQL (7th-multiples re-embedded, 13th-multiples copied
    // to +100000 ids, 11th-multiples gone), then every surviving vector
    // assigned to the SAME deterministic v0 seed centroids (first 8 by
    // md5(vec_id) — the cluster_assign convention) with the identical
    // round-6 cosine + cell_id tie-break. The Spark side maintained the
    // index incrementally from the change feed; equality to this
    // rebuild is the whole claim.
    "pipeline_incremental_reindex" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cell_id, v AS cv,
        |                sqrt(list_inner_product(v, v)) AS cn
        |         FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
        |st AS (SELECT vec_id,
        |         CASE WHEN vec_id % 7 = 0
        |              THEN list_transform(v, x -> x * 0.5 + 0.01)
        |              ELSE v END AS v
        |       FROM e WHERE vec_id % 11 <> 0
        |       UNION ALL
        |       SELECT vec_id + 100000, list_transform(v, x -> 1.0 - x)
        |       FROM e WHERE vec_id % 13 = 0),
        |stn AS (SELECT vec_id, v,
        |          sqrt(list_inner_product(v, v)) AS nrm FROM st),
        |asg AS (SELECT vec_id, cell_id, sim FROM (
        |          SELECT stn.vec_id, cent.cell_id,
        |                 round(list_inner_product(stn.v, cent.cv)
        |                   / (stn.nrm * cent.cn), 6) AS sim,
        |                 row_number() OVER (PARTITION BY stn.vec_id
        |                   ORDER BY round(list_inner_product(stn.v, cent.cv)
        |                     / (stn.nrm * cent.cn), 6) DESC,
        |                            cent.cell_id) AS rn
        |          FROM stn CROSS JOIN cent) t WHERE rn = 1)
        |SELECT vec_id, cell_id, sim FROM asg ORDER BY vec_id""".stripMargin,

    "text_vocab_growth" ->
      s"""WITH $wordCte,
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |t AS (SELECT doc_id, unnest(l) AS w FROM w),
         |tk AS (SELECT doc_id, w FROM t WHERE w <> ''),
         |tp AS (SELECT least(9, (doc_id * 10) // (mx + 1)) AS decile,
         |         count(*) AS n_tokens
         |       FROM tk CROSS JOIN mx GROUP BY 1),
         |f AS (SELECT w, min(doc_id) AS first_doc FROM tk GROUP BY 1),
         |pd AS (SELECT least(9, (first_doc * 10) // (mx + 1)) AS decile,
         |         count(*) AS new_types
         |       FROM f CROSS JOIN mx GROUP BY 1),
         |j AS (SELECT tp.decile, tp.n_tokens,
         |        CAST(coalesce(pd.new_types, 0) AS BIGINT) AS new_types
         |      FROM tp LEFT JOIN pd USING (decile))
         |SELECT decile, n_tokens, new_types,
         |       CAST(sum(n_tokens) OVER (ORDER BY decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_tokens,
         |       CAST(sum(new_types) OVER (ORDER BY decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |         AS cum_vocab
         |FROM j ORDER BY decile""".stripMargin,

    // Same planted corpus and patterns as text_redact, rolled up.
    "text_pii_audit" -> {
      val urlP = TextAnalysis.UrlPattern
      val emailP = TextAnalysis.EmailPattern
      val phoneP = TextAnalysis.PhonePattern
      s"""WITH d AS (SELECT source,
         |    text || ' contact ' || source || '-' || doc_id::VARCHAR ||
         |    '@example.com via https://' || lang || '.example.org/d/' ||
         |    doc_id::VARCHAR || ' tel +1 (555) 010-' ||
         |    lpad((doc_id % 10000)::VARCHAR, 4, '0') AS txt
         |  FROM documents),
         |c AS (SELECT source,
         |        len(regexp_extract_all(txt, '$urlP')) AS u,
         |        len(regexp_extract_all(txt, '$emailP')) AS e,
         |        len(regexp_extract_all(txt, '$phoneP')) AS p
         |      FROM d)
         |SELECT source, count(*) AS n_docs,
         |       CAST(sum(u) AS BIGINT) AS n_urls,
         |       CAST(sum(e) AS BIGINT) AS n_emails,
         |       CAST(sum(p) AS BIGINT) AS n_phones,
         |       CAST(sum(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_with_pii,
         |       round(CAST(sum(CASE WHEN u + e + p > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS pii_rate
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },

    "text_redact" -> {
      val urlP = TextAnalysis.UrlPattern
      val emailP = TextAnalysis.EmailPattern
      val phoneP = TextAnalysis.PhonePattern
      s"""WITH d AS (SELECT doc_id,
         |    text || ' contact ' || source || '-' || doc_id::VARCHAR ||
         |    '@example.com via https://' || lang || '.example.org/d/' ||
         |    doc_id::VARCHAR || ' tel +1 (555) 010-' ||
         |    lpad((doc_id % 10000)::VARCHAR, 4, '0') AS txt
         |  FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(txt, '$urlP')) AS n_urls,
         |       len(regexp_extract_all(txt, '$emailP')) AS n_emails,
         |       len(regexp_extract_all(txt, '$phoneP')) AS n_phones,
         |       md5(regexp_replace(regexp_replace(regexp_replace(txt,
         |           '$urlP', '<URL>', 'g'),
         |           '$emailP', '<EMAIL>', 'g'),
         |           '$phoneP', '<NUM>', 'g')) AS redacted_md5
         |FROM d ORDER BY doc_id""".stripMargin
    },

    "text_tfidf" ->
      s"""WITH $wordCte,
         |t AS (SELECT doc_id AS doc, unnest(l) AS word FROM w),
         |tf AS (SELECT doc, word, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |sc AS (SELECT doc, word, tf, df,
         |         tf * ln((n_docs + 1) * 1.0 / (df + 1)) AS score
         |       FROM tf JOIN dfq USING (word) CROSS JOIN nd),
         |r AS (SELECT doc, word, tf, df, round(score, 4) AS tfidf,
         |        row_number() OVER (PARTITION BY doc
         |          ORDER BY score DESC, word) AS rank
         |      FROM sc)
         |SELECT doc, word, tf, df, tfidf, rank FROM r WHERE rank <= 3
         |ORDER BY doc, rank""".stripMargin,

    // BM25 oracle — constants cast to DOUBLE explicitly (DuckDB parses
    // bare decimals as DECIMAL, which would change the arithmetic);
    // expression tree mirrors the Spark side left-to-right so the IEEE
    // double results are bit-identical before micro-quantization.
    "text_bm25" ->
      s"""WITH $wordCte,
         |t AS (SELECT doc_id AS doc, unnest(l) AS word FROM w),
         |dl AS (SELECT doc, count(*) AS dl FROM t GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         |tf AS (SELECT doc, word, count(*) AS tf FROM t
         |       WHERE word IN ('join', 'filter', 'scan') GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc,
         |         CAST(round((ln((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
         |                     * (tf * CAST(2.2 AS DOUBLE)))
         |                    / (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
         |                       + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs)))
         |                    * 1e6) AS BIGINT) AS s_micro
         |       FROM tf JOIN dfq USING (word) JOIN dl USING (doc) CROSS JOIN st),
         |ag AS (SELECT doc, round(CAST(sum(s_micro) AS BIGINT) / 1e6, 4) AS bm25,
         |              count(*) AS n_terms FROM sc GROUP BY 1),
         |r AS (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc) AS rank FROM ag)
         |SELECT doc, bm25, n_terms, rank FROM r WHERE rank <= 20
         |ORDER BY rank""".stripMargin,

    "text_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($wordsSql) AS word FROM documents),
         |tot AS (SELECT count(*) AS total FROM t)
         |SELECT word, count(*) AS n_occurrences,
         |       (SELECT total FROM tot) AS total
         |FROM t GROUP BY word
         |HAVING count(*) * 200 >= (SELECT total FROM tot)
         |ORDER BY word""".stripMargin,

    // Bigram LM: corpus bigram counts, head counts aggregated FROM the
    // bigram table, per-position ln rounded to integer e4 nats before
    // the per-doc sum (exact integer aggregation).
    "text_lm_score" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |b AS (SELECT doc_id,
         |        unnest($bigramListSql) AS bg
         |      FROM w WHERE len(l) >= 2),
         |bc AS (SELECT bg, count(*) AS c_bg FROM b GROUP BY bg),
         |hc AS (SELECT string_split(bg, ' ')[1] AS w1,
         |              CAST(sum(c_bg) AS BIGINT) AS c_head
         |       FROM bc GROUP BY 1),
         |sc AS (SELECT b.doc_id,
         |         CAST(round(ln(CAST(c_head AS DOUBLE) / CAST(c_bg AS DOUBLE)) * 10000) AS BIGINT) AS nats_e4
         |       FROM b JOIN bc USING (bg)
         |       JOIN hc ON hc.w1 = string_split(b.bg, ' ')[1])
         |SELECT doc_id AS doc, count(*) AS n_bigrams,
         |       round(sum(nats_e4) / (count(*) * 10000.0), 4) AS avg_neg_logp
         |FROM sc GROUP BY doc_id ORDER BY doc""".stripMargin,

    // KN replay: one bigram count table feeds head / continuation /
    // type-total aggregates; every probability term is the identical
    // floor-division composition in HUGEINT.
    "text_kn_bigram" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |b AS (SELECT unnest($bigramListSql) AS bg
         |      FROM w WHERE len(l) >= 2),
         |bc AS (SELECT bg, string_split(bg, ' ')[1] AS w1,
         |         string_split(bg, ' ')[2] AS w2, count(*) AS c12
         |       FROM b GROUP BY 1, 2, 3),
         |hd AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |         count(*) AS n_cont FROM bc GROUP BY 1),
         |ct AS (SELECT w2, count(*) AS n_left FROM bc GROUP BY 1),
         |tt AS (SELECT count(*) AS b_types FROM bc),
         |j AS (SELECT bc.w1, bc.w2, bc.c12, hd.c1, hd.n_cont, ct.n_left,
         |        (greatest(CAST(bc.c12 AS HUGEINT) * 1000000 - 750000, 0) // hd.c1
         |         + (((750000 * hd.n_cont) // hd.c1)
         |            * ((ct.n_left * 1000000) // tt.b_types)) // 1000000)
         |          / 1e6 AS p_kn,
         |        row_number() OVER (ORDER BY bc.c12 DESC, bc.w1, bc.w2) AS rk
         |      FROM bc JOIN hd USING (w1) JOIN ct USING (w2) CROSS JOIN tt)
         |SELECT w1, w2, c12, c1, n_cont, n_left, p_kn
         |FROM j WHERE rk <= 40
         |ORDER BY c12 DESC, w1, w2""".stripMargin,

    // DSIR replay: hashed-bigram bucket counts, Laplace-smoothed
    // target/raw ratio per bucket as ONE HUGEINT floor division, per-doc
    // mean of its occurrences' micro weights.
    "data_importance_sample" ->
      s"""WITH w AS (SELECT doc_id, lang, $wordsSql AS l FROM documents),
         |b AS (SELECT doc_id, lang,
         |        unnest($bigramListSql) AS bg
         |      FROM w WHERE len(l) >= 2),
         |bb AS (SELECT doc_id, lang,
         |         ('0x' || substr(md5(bg), 1, 6))::BIGINT % 256 AS bucket
         |       FROM b),
         |raw AS (SELECT bucket, count(*) AS c_raw FROM bb GROUP BY 1),
         |tg AS (SELECT bucket, count(*) AS c_tgt FROM bb
         |       WHERE lang = (SELECT min(lang) FROM documents) GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c_raw) FROM raw) AS t_raw,
         |               (SELECT sum(c_tgt) FROM tg) AS t_tgt),
         |wt AS (SELECT raw.bucket,
         |         (CAST(coalesce(tg.c_tgt, 0) + 1 AS HUGEINT)
         |            * (CAST(t_raw AS HUGEINT) + 256) * 1000000)
         |         // ((raw.c_raw + 1) * (CAST(t_tgt AS HUGEINT) + 256)) AS w_micro
         |       FROM raw LEFT JOIN tg USING (bucket) CROSS JOIN tot)
         |SELECT bb.doc_id, count(*) AS n_bigrams,
         |       (CAST(sum(w_micro) AS HUGEINT) // count(*)) / 1e6 AS importance
         |FROM bb JOIN wt USING (bucket)
         |GROUP BY bb.doc_id ORDER BY doc_id""".stripMargin,

    // Hamilton apportionment replay: the SHARED hamiltonAllocSql CTE
    // chain (one source of the oracle algebra, same as the Spark
    // helper both allocation queries call).
    "data_budget_allocation" ->
      s"""WITH ${Sampling.hamiltonAllocSql(
             "SELECT source, sum(n_chars) AS weight FROM documents GROUP BY 1",
             budget = 10000L)}
         |SELECT source, CAST(weight AS BIGINT) AS weight,
         |       CAST(base AS BIGINT) AS base, CAST(rem AS BIGINT) AS rem,
         |       CAST(alloc AS BIGINT) AS alloc
         |FROM a ORDER BY source""".stripMargin,

    // Batch replay of the streaming histogram — legal because count
    // merge across micro-batches is commutative (the stream_hll
    // argument). Same nonneg clamp BEFORE the division (// floors,
    // Spark div truncates — identical only on nonnegatives), same
    // smallest-bucket-with-cum·100 ≥ q·n selection.
    "stream_quantile_hist" ->
      """WITH h AS (SELECT event_type,
        |             least(greatest(CAST(floor(value * 100) AS BIGINT), 0)
        |                   // 500, 1023) AS bucket,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
        |c AS (SELECT event_type, bucket, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS cum
        |      FROM h)
        |SELECT c.event_type, CAST(qs.quantile AS BIGINT) AS quantile,
        |       min(c.bucket) AS bucket,
        |       min(c.bucket) * 5.0 AS value_lo, t.n
        |FROM c JOIN t USING (event_type)
        |CROSS JOIN (SELECT unnest([50, 90, 99]) AS quantile) qs
        |WHERE c.cum * 100 >= qs.quantile * t.n
        |GROUP BY c.event_type, qs.quantile, t.n
        |ORDER BY event_type, quantile""".stripMargin,

    // Degree-histogram replay: identical heavy-tailed reciprocal
    // generator and symmetrized distinct edge set, bucket as the
    // bin-string length.
    "graph_degree_hist" ->
      """WITH nn AS (SELECT count(*) AS n FROM documents),
        |d AS (SELECT doc_id AS src,
        |        n // ((doc_id * 7 + k * 13) % n + 1) AS dst
        |      FROM documents CROSS JOIN nn
        |      CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) ks),
        |e AS (SELECT src, dst FROM
        |        (SELECT src, dst FROM d UNION SELECT dst, src FROM d)
        |      WHERE src <> dst),
        |g AS (SELECT src, count(*) AS deg FROM e GROUP BY 1)
        |SELECT CAST(length(bin(deg)) AS BIGINT) AS bucket,
        |       count(*) AS n_nodes,
        |       CAST(min(deg) AS BIGINT) AS min_deg,
        |       CAST(max(deg) AS BIGINT) AS max_deg,
        |       CAST(sum(deg) AS BIGINT) AS sum_deg
        |FROM g GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Reciprocity replay: distinct directed edges, mutual pairs via the
    // swapped-key EXISTS, one micro floor division.
    "graph_reciprocity" ->
      s"""WITH d AS ($linkGraphSql),
        |e AS (SELECT DISTINCT src, dst FROM d WHERE src <> dst),
        |r AS (SELECT count(*) AS n_recip FROM e
        |      WHERE EXISTS (SELECT 1 FROM e e2
        |                    WHERE e2.src = e.dst AND e2.dst = e.src)),
        |t AS (SELECT count(*) AS n_edges FROM e)
        |SELECT n_edges, n_recip,
        |       ((n_recip * 1000000) // n_edges) / 1e6 AS reciprocity
        |FROM t CROSS JOIN r""".stripMargin,

    // Quoted-CSV oracle: the enrichment applied to the ORIGINAL table —
    // the write→read chain must be byte-lossless through embedded
    // delimiter, quote, and newline.
    "ingest_csv_quoted" ->
      """SELECT doc_id, lang,
        |       md5(text || ', "tricky"' || chr(10) || 'line2,end')
        |         AS text_md5,
        |       CAST(length(text || ', "tricky"' || chr(10) || 'line2,end')
        |         AS BIGINT) AS n_chars_rt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Avro roundtrip oracle: the ORIGINAL table — any decode, codec, or
    // type-mapping defect in the write→read chain flips the hash.
    "ingest_avro" ->
      """SELECT c_custkey, c_name,
        |       CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Block-split read must reproduce the same roundtrip: a row lost or
    // doubled at ANY split boundary flips the hash.
    "ingest_avro_split" ->
      """SELECT c_custkey, c_name,
        |       CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |       CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Pruned projection over the same split read: the VALUES must be
    // exactly the 2-column slice of the original — the plan-shape half
    // (ReadSchema narrowed to the projection) is enforced in-code.
    "ingest_avro_pruned" ->
      """SELECT c_custkey,
        |       CAST(floor(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // Embeddings-in-Avro roundtrip, graded element-exact: DuckDB zips
    // the two same-length unnests, reproducing (vec_id, idx, val)
    // directly from the parquet original.
    "ingest_avro_embeddings" ->
      """SELECT vec_id, unnest(range(len(embedding))) AS idx,
        |       unnest(embedding) AS val, label
        |FROM embeddings ORDER BY vec_id, idx""".stripMargin,

    // Fixed-width ingest oracle: ground truth minus the planted
    // corruption — any positional parse error or swallowed bad record
    // diverges.
    "ingest_fixed_width" ->
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin,

    // Code-detect replay: identical symbol class, keyword membership
    // over the shared word split, indent LIKE, and the micro score.
    "text_code_detect" ->
      s"""WITH docs2 AS (SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
         |           'def f(x):' || chr(10) || '  return (x + 1);' || chr(10)
         |           || '  var y = {x};' || chr(10)
         |           || '  public void g() { y = x; }'
         |         ELSE text END AS text
         |       FROM documents),
         |w AS (SELECT doc_id, text, $wordsSql AS l FROM docs2),
         |c AS (SELECT doc_id,
         |        CAST(length(text) AS BIGINT) AS n_chars,
         |        CAST(length(text) - length(regexp_replace(text,
         |          '[{}();=<>\\[\\]]', '', 'g')) AS BIGINT) AS n_syms,
         |        CAST(len(list_filter(l, x -> list_contains(
         |          ['class', 'def', 'function', 'import', 'public',
         |           'return', 'var', 'void'], x))) AS BIGINT) AS kw_hits,
         |        CAST(len(list_filter(string_split(text, chr(10)),
         |          x -> x LIKE '  %')) AS BIGINT) AS n_indent,
         |        CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
         |      FROM w),
         |sc AS (SELECT doc_id, n_syms, kw_hits, n_indent,
         |         (n_syms * 1000000) // n_chars + kw_hits * 50000
         |           + ((n_indent * 1000000) // n_lines) // 4 AS score_micro
         |       FROM c)
         |SELECT doc_id, n_syms, kw_hits, n_indent,
         |       score_micro / 1e6 AS code_score,
         |       score_micro >= 80000 AS is_code
         |FROM sc ORDER BY doc_id""".stripMargin,

    // Dataset-card replay: one grouped pass over the same per-row
    // projections; dup rate and mean quality as the identical floor
    // divisions.
    "pipeline_dataset_card" ->
      s"""WITH d AS (SELECT source, lang, n_chars,
         |             CAST(len($wordsSql) AS BIGINT) AS n_words,
         |             md5(text) AS fp,
         |             (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
         |              * 1000000) // length(text) AS q_micro
         |           FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |        count(DISTINCT lang) AS n_langs,
         |        CAST(sum(n_words) AS BIGINT) AS total_words,
         |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |        count(DISTINCT fp) AS n_unique,
         |        CAST(sum(q_micro) AS BIGINT) AS q_sum
         |      FROM d GROUP BY 1)
         |SELECT source, n_docs, n_langs, total_words, total_chars,
         |       CAST(((n_docs - n_unique) * 1000) // n_docs AS BIGINT)
         |         AS dup_permille,
         |       (q_sum // n_docs) / 1e6 AS mean_quality
         |FROM g ORDER BY source""".stripMargin,

    // Phrase scan replay: the same positional bigram explode joined to
    // the inlined phrase list.
    "text_phrase_scan" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |b AS (SELECT doc_id,
         |        unnest($bigramListSql) AS phrase
         |      FROM w WHERE len(l) >= 2),
         |p AS (SELECT unnest(['the customer', 'slow query', 'hash join',
         |                     'of the', 'join the']) AS phrase)
         |SELECT doc_id, phrase, count(*) AS n_hits
         |FROM b JOIN p USING (phrase)
         |GROUP BY 1, 2 ORDER BY doc_id, phrase""".stripMargin,

    // Silence replay: character-pair samples (the audio ASCII
    // contract), i//64 full windows, sum threshold 64·25000, longest
    // run via gaps-and-islands over the silent window indexes.
    "multimodal_audio_silence" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS nb,
        |         ('0x' || substr(md5(text), 9, 4))::BIGINT % 2 + 1 AS nch
        |       FROM documents),
        |smp AS (SELECT m.doc_id, u.i AS i,
        |          ord(substr(m.text, 2*u.i + 1, 1))
        |          + 256 * ord(substr(m.text, 2*u.i + 2, 1)) AS sv
        |        FROM m, LATERAL unnest(generate_series(0,
        |               (m.nb // (2 * m.nch)) * m.nch - 1)) AS u(i)),
        |w AS (SELECT doc_id, i // 64 AS wk, sum(sv) AS wsum,
        |             count(*) AS wn
        |      FROM smp GROUP BY 1, 2),
        |f AS (SELECT doc_id, wk, (wsum < 1600000) AS silent
        |      FROM w WHERE wn = 64),
        |ag AS (SELECT doc_id, count(*) AS n_windows,
        |              count(*) FILTER (WHERE silent) AS n_silent
        |       FROM f GROUP BY 1),
        |runs AS (SELECT doc_id,
        |           wk - row_number() OVER (PARTITION BY doc_id ORDER BY wk)
        |             AS grp
        |         FROM f WHERE silent),
        |rl AS (SELECT doc_id, max(cnt) AS longest FROM
        |         (SELECT doc_id, grp, count(*) AS cnt FROM runs GROUP BY 1, 2)
        |       GROUP BY 1)
        |SELECT m.doc_id AS media_id, 'wav' AS format,
        |       CAST(coalesce(ag.n_windows, 0) AS BIGINT) AS n_windows,
        |       CAST(coalesce(ag.n_silent, 0) AS BIGINT) AS n_silent,
        |       CAST(coalesce(rl.longest, 0) AS BIGINT) AS longest_run
        |FROM m LEFT JOIN ag USING (doc_id) LEFT JOIN rl USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // Power-iteration replay: micro-quantized embeddings, three
    // unrolled v ← normalize(XᵀXv) rounds in HUGEINT with the identical
    // sign-split floor-division L∞ normalization.
    "embedding_power_iter" -> {
      val rounds = (1 to 3).map { i =>
        s"""dot$i AS (SELECT e.vec_id, CAST(sum(e.x * v${i - 1}.vm) AS HUGEINT) AS dot
           |        FROM e JOIN v${i - 1} USING (d) GROUP BY 1),
           |s$i AS (SELECT e.d,
           |         CAST(sum(CAST(e.x AS HUGEINT) * dot$i.dot) AS HUGEINT) AS sd
           |      FROM e JOIN dot$i USING (vec_id) GROUP BY 1),
           |m$i AS (SELECT max(abs(sd)) AS m FROM s$i),
           |v$i AS (SELECT d, CASE WHEN sd < 0 THEN -(((-sd) * 1000000) // m)
           |               ELSE (sd * 1000000) // m END AS vm
           |      FROM s$i CROSS JOIN m$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH x AS (SELECT vec_id,
         |        list_transform(embedding,
         |          e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS xm
         |      FROM embeddings),
         |e AS (SELECT vec_id, u.d, xm[u.d + 1] AS x
         |      FROM x, LATERAL unnest(generate_series(0, 63)) AS u(d)),
         |v0 AS (SELECT unnest(generate_series(0, 63)) AS d,
         |              CAST(1000000 AS HUGEINT) AS vm),
         |$rounds
         |SELECT CAST(d AS BIGINT) AS d, CAST(vm AS BIGINT) AS vm,
         |       CAST(vm AS DOUBLE) / 1e6 AS component
         |FROM v3 ORDER BY d""".stripMargin
    },

    // Curation v5 replay: the SHARED hamiltonAllocSql CTE chain + the
    // alpha-ratio score + per-source rank-within-allocation.
    "pipeline_curation_v5" ->
      s"""WITH ${Sampling.hamiltonAllocSql(
             "SELECT source, sum(n_chars) AS weight FROM documents GROUP BY 1",
             budget = 300L)},
         |sc AS (SELECT source, doc_id, n_chars,
        |         (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |          * 1000000) // length(text) AS score_micro
        |       FROM documents),
        |r AS (SELECT sc.*, a.alloc,
        |        row_number() OVER (PARTITION BY sc.source
        |          ORDER BY score_micro DESC, doc_id) AS rk
        |      FROM sc JOIN a USING (source))
        |SELECT source, count(*) AS n_taken,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_taken,
        |       min(score_micro) / 1e6 AS worst_kept_score
        |FROM r WHERE rk <= alloc
        |GROUP BY source ORDER BY source""".stripMargin,

    // Eval-set pipeline: the contamination CTEs (exact variant) feed a
    // quota-sampled per-source roll-up of the clean test docs.
    "pipeline_eval_set" ->
      s"""WITH b AS (SELECT doc_id, text,
         |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk
         |           FROM documents),
         |sp AS (SELECT doc_id, text,
         |         CASE WHEN bk < 800 THEN 'train'
         |              WHEN bk < 900 THEN 'val' ELSE 'test' END AS split
         |       FROM b),
         |w AS (SELECT doc_id, split, $wordsSql AS l FROM sp),
         |sh AS (SELECT doc_id, split,
         |         unnest(list_distinct(list_transform(
         |           list_transform(generate_series(1, len(l) - 2),
         |             i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]),
         |           s -> ('0x' || substr(md5(s), 1, 12))::BIGINT))) AS key
         |       FROM w),
         |tk AS (SELECT DISTINCT key FROM sh WHERE split = 'train'),
         |ev AS (SELECT doc_id, key FROM sh WHERE split = 'test'),
         |n AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1),
         |s2 AS (SELECT ev.doc_id, count(*) AS n_shared
         |       FROM ev JOIN tk USING (key) GROUP BY 1),
         |keep AS (SELECT n.doc_id FROM n LEFT JOIN s2 ON s2.doc_id = n.doc_id
         |         WHERE round(coalesce(s2.n_shared, 0) * 1.0 / n.n_shingles, 4) <= 0.6),
         |src AS (SELECT d.doc_id, d.source,
         |          row_number() OVER (PARTITION BY d.source
         |            ORDER BY md5(d.doc_id::VARCHAR), d.doc_id) AS rn
         |        FROM documents d JOIN keep USING (doc_id))
         |SELECT source, count(*) AS n_docs, min(doc_id) AS min_id
         |FROM src WHERE rn <= 10 GROUP BY source ORDER BY source""".stripMargin,

    // Distinct per-doc shingle hashes (the same 48-bit md5 keys as the
    // near-dup joins) → document frequency → per-doc boilerplate share.
    "text_boilerplate" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(generate_series(1, len(l) - 2),
         |           i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 12))::BIGINT))) AS key
         |       FROM w),
         |d AS (SELECT key, count(*) AS df FROM sh GROUP BY key)
         |SELECT sh.doc_id AS doc, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
         |       round(sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS boilerplate_ratio
         |FROM sh JOIN d USING (key)
         |GROUP BY sh.doc_id ORDER BY doc""".stripMargin,

    // Positional (non-distinct) gram hashes with their ordinals; a
    // position is duplicated when its hash spans >= 2 docs; consecutive
    // duplicated positions collapse into runs via the islands trick
    // (pos - row_number() constant within a run).
    "text_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |ph AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(l) - 2),
         |           i -> {'p': i, 'h': ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 12))::BIGINT})) AS u
         |       FROM w),
         |p AS (SELECT doc_id, u.p AS pos, u.h AS key FROM ph),
         |dup AS (SELECT key FROM p GROUP BY key HAVING count(DISTINCT doc_id) >= 2),
         |m AS (SELECT p.doc_id, p.pos FROM p JOIN dup USING (key)),
         |r AS (SELECT doc_id,
         |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM m),
         |runs AS (SELECT doc_id, grp, count(*) AS run_len FROM r GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_dup_positions,
         |               CAST(max(run_len) AS BIGINT) AS max_run
         |        FROM runs GROUP BY doc_id),
         |tot AS (SELECT doc_id, count(*) AS n_positions FROM p GROUP BY doc_id)
         |SELECT tot.doc_id AS doc, tot.n_positions,
         |       coalesce(agg.n_dup_positions, 0) AS n_dup_positions,
         |       coalesce(agg.max_run, 0) AS max_run,
         |       round(coalesce(agg.n_dup_positions, 0) * 1.0 / tot.n_positions, 4) AS dup_ratio
         |FROM tot LEFT JOIN agg USING (doc_id) ORDER BY doc""".stripMargin,

    // Same positional-hash CTEs as text_dup_spans; covered word ordinals
    // anti-join the positional word table; ordered reassembly via
    // string_agg ORDER BY. (1-based internally — only counts and the
    // reassembled text are graded, so the basis cancels.)
    "text_span_removal" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |ph AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(l) - 2),
         |           i -> {'p': i, 'h': ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 12))::BIGINT})) AS u
         |       FROM w),
         |p AS (SELECT doc_id, u.p AS pos, u.h AS key FROM ph),
         |dup AS (SELECT key FROM p GROUP BY key HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT doc_id, wi FROM (
         |          SELECT doc_id, unnest(generate_series(pos, pos + 2)) AS wi
         |          FROM p JOIN dup USING (key))),
         |wp AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(l)),
         |           i -> {'wi': i, 'wd': l[i]})) AS u
         |       FROM w),
         |wx AS (SELECT doc_id, u.wi AS wi, u.wd AS word FROM wp),
         |kept AS (SELECT wx.doc_id, wx.wi, wx.word FROM wx
         |         LEFT JOIN cov ON cov.doc_id = wx.doc_id AND cov.wi = wx.wi
         |         WHERE cov.wi IS NULL)
         |SELECT doc_id AS doc, count(*) AS n_kept_words,
         |       md5(string_agg(word, ' ' ORDER BY wi)) AS cleaned_md5
         |FROM kept GROUP BY doc_id ORDER BY doc""".stripMargin,

    // Same mask rule stated independently: spans of 2 starting at word
    // indices ≡ 3 (mod 7), 0-based; string_agg skips the NULL (dropped)
    // tokens exactly as array_join does.
    "data_span_corrupt" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |wp AS (SELECT doc_id,
         |         unnest(list_transform(generate_series(1, len(l)),
         |           i -> {'wi': i - 1, 'wd': l[i]})) AS u
         |       FROM w),
         |t AS (SELECT doc_id, u.wi AS wi, u.wd AS word,
         |        u.wi >= 3 AND (u.wi - 3) % 7 < 2 AS masked,
         |        (u.wi - 3) % 7 AS phase, (u.wi - 3) // 7 AS sid
         |      FROM wp),
         |k AS (SELECT doc_id, wi, masked,
         |        CASE WHEN NOT masked THEN word
         |             WHEN phase = 0 THEN '<extra_id_' || sid || '>'
         |        END AS in_tok,
         |        CASE WHEN masked AND phase = 0
         |               THEN '<extra_id_' || sid || '> ' || word
         |             WHEN masked THEN word
         |        END AS tgt_tok
         |      FROM t)
         |SELECT doc_id AS doc, count(*) AS n_words,
         |       CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_masked,
         |       md5(coalesce(string_agg(in_tok, ' ' ORDER BY wi), ''))
         |         AS input_md5,
         |       md5(coalesce(string_agg(tgt_tok, ' ' ORDER BY wi), ''))
         |         AS target_md5
         |FROM k GROUP BY doc_id ORDER BY doc""".stripMargin,

    "data_epochs" -> {
      val vals = epochConfig.map { case (s, e) =>
        val full = math.floor(e).toLong
        s"('$s', $full, ${math.round((e - full) * 1000)})"
      }.mkString(", ")
      s"""WITH cfg(source, cfull, cfrac) AS (VALUES $vals),
         |d AS (SELECT doc_id, source,
         |         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS h
         |      FROM documents),
         |x AS (SELECT d.doc_id, d.source,
         |         CAST(cfull + CASE WHEN h < cfrac THEN 1 ELSE 0 END AS BIGINT)
         |           AS copies
         |      FROM d JOIN cfg USING (source))
         |SELECT source, doc_id,
         |       CAST(unnest(generate_series(0, copies - 1)) AS BIGINT) AS epoch
         |FROM x WHERE copies >= 1
         |ORDER BY doc_id, epoch""".stripMargin
    },

    "data_contrastive" ->
      s"""WITH $minhashCtes,
         |nn AS (SELECT count(*) AS n FROM documents),
         |pj AS (SELECT doc_a, doc_b, CAST(unnest([0, 1, 2]) AS BIGINT) AS j
         |       FROM mh_pairs),
         |hh AS (SELECT doc_a, doc_b, j,
         |              (doc_a * 31 + j * 17) % n AS h, n
         |       FROM pj CROSS JOIN nn)
         |SELECT doc_a AS anchor, doc_b AS positive, j,
         |       CASE WHEN h <> doc_a AND h <> doc_b THEN h
         |            WHEN (h + 1) % n <> doc_a AND (h + 1) % n <> doc_b
         |              THEN (h + 1) % n
         |            ELSE (h + 2) % n END AS neg_id
         |FROM hh ORDER BY anchor, positive, j""".stripMargin,

    "text_postings" ->
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct($wordsSql)) AS word
         |           FROM documents),
         |a AS (SELECT word, count(*) AS df,
         |             list_sort(list(doc_id))[1:20] AS p
         |      FROM w GROUP BY word HAVING count(*) >= 2),
         |b AS (SELECT word, df, unnest(p) AS doc,
         |             unnest(generate_series(0, len(p) - 1)) AS rank
         |      FROM a)
         |SELECT word, df, rank, doc FROM b ORDER BY word, rank""".stripMargin,

    "text_quality_model" ->
      s"""WITH wt AS (SELECT b AS bucket,
         |              (b * 2654435761) % 1000001 - 500000 AS wt_micro
         |            FROM (SELECT unnest(generate_series(0, 63)) AS b) bs),
         |tk AS (SELECT doc_id,
         |         ('0x' || substr(md5(word), 1, 12))::BIGINT % 64 AS bucket
         |       FROM (SELECT doc_id, unnest($wordsSql) AS word FROM documents) u)
         |SELECT doc_id, count(*) AS n_tokens,
         |       CAST(sum(w.wt_micro) AS BIGINT) AS logit_micro,
         |       ((CAST(sum(w.wt_micro) AS BIGINT)
         |         - ((CAST(sum(w.wt_micro) AS BIGINT) % count(*) + count(*))
         |            % count(*))) // count(*)) / 1e6 AS score,
         |       CAST(sum(w.wt_micro) AS BIGINT) > 0 AS keep
         |FROM tk JOIN wt w USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Five unrolled rounds of the identical integer recurrence — the
    // oracle replays pr div deg / damping in BIGINT floor division.
    "graph_pagerank" -> {
      val iters = (1 to 5).map { i =>
        val prev = if (i == 1) "p0" else s"i${i - 1}"
        s"""i$i AS (SELECT n.id,
           |  CAST(150000 + (85 * coalesce(s$i.m, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS m
           |    FROM e JOIN $prev p ON e.src = p.id JOIN od d ON e.src = d.src
           |    GROUP BY e.dst) s$i ON n.id = s$i.id)"""
      }.mkString(",\n")
      s"""WITH e AS ($linkGraphSql),
         |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM nodes),
         |$iters
         |SELECT id, pr AS pr_micro FROM i5 ORDER BY id""".stripMargin
    },

    // Five unrolled rounds with the restart term gated on landmark
    // membership — otherwise identical to the pagerank replay.
    "graph_ppr" -> {
      val iters = (1 to 5).map { i =>
        val prev = if (i == 1) "p0" else s"i${i - 1}"
        s"""i$i AS (SELECT n.id,
           |  CAST(n.is_src * 150000 + (85 * coalesce(s$i.m, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, CAST(sum(p.pr // d.deg) AS BIGINT) AS m
           |    FROM e JOIN $prev p ON e.src = p.id JOIN od d ON e.src = d.src
           |    GROUP BY e.dst) s$i ON n.id = s$i.id)"""
      }.mkString(",\n")
      s"""WITH e AS ($linkGraphSql),
         |nodes AS (SELECT id, CASE WHEN id % 50 = 0 THEN 1 ELSE 0 END AS is_src
         |          FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
         |od AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |p0 AS (SELECT id, CAST(is_src * 1000000 AS BIGINT) AS pr FROM nodes),
         |$iters
         |SELECT id, pr AS ppr_micro FROM i5 ORDER BY id""".stripMargin
    },

    "graph_degrees" ->
      s"""WITH e AS ($linkGraphSql),
        |o AS (SELECT src AS id, count(*) AS out_deg,
        |             count(DISTINCT dst) AS out_nbrs FROM e GROUP BY 1),
        |i AS (SELECT dst AS id, count(*) AS in_deg,
        |             count(DISTINCT src) AS in_nbrs FROM e GROUP BY 1)
        |SELECT coalesce(o.id, i.id) AS id,
        |       coalesce(out_deg, 0) AS out_deg,
        |       coalesce(out_nbrs, 0) AS out_nbrs,
        |       coalesce(in_deg, 0) AS in_deg,
        |       coalesce(in_nbrs, 0) AS in_nbrs
        |FROM o FULL JOIN i ON o.id = i.id
        |ORDER BY id""".stripMargin,

    // Three unrolled synchronous rounds of the identical vote/argmax
    // recurrence; the window row_number mirrors the packed-BIGINT
    // max-count-min-label tie-break.
    "graph_label_prop" ->
      s"""WITH $labelPropCtes
         |SELECT id, label FROM l3 ORDER BY id""".stripMargin,

    // Modularity of the label-propagation communities: Q = Σ_c (e_c/m −
    // (d_c/2m)²) over the DISTINCT undirected edge set — the standard
    // partition-quality score. Shares the full label-prop CTE chain so
    // both queries grade the identical communities. Mirrors the Spark
    // side's exact-integer algebra: HUGEINT numerator 4·m·e_c − d_c²
    // summed exactly, one double division by 4m² before round — no
    // order-dependent float sum on either engine.
    "graph_modularity" ->
      s"""WITH $labelPropCtes,
         |ud AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM d WHERE src <> dst),
         |m AS (SELECT count(*) AS m FROM ud),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
         |ein AS (SELECT la.label, count(*) AS e_in
         |        FROM ud JOIN l3 la ON ud.a = la.id
         |                JOIN l3 lb ON ud.b = lb.id
         |        WHERE la.label = lb.label GROUP BY 1),
         |dt AS (SELECT l3.label, count(*) AS n_nodes,
         |         CAST(sum(deg.deg) AS BIGINT) AS d_tot
         |       FROM l3 JOIN deg ON deg.id = l3.id GROUP BY 1),
         |co AS (SELECT dt.label, dt.n_nodes,
         |         CAST(coalesce(ein.e_in, 0) AS BIGINT) AS e_in, dt.d_tot,
         |         4 * CAST(m.m AS HUGEINT) * coalesce(ein.e_in, 0)
         |           - CAST(dt.d_tot AS HUGEINT) * dt.d_tot AS cnum,
         |         4.0 * CAST(m.m AS DOUBLE) * CAST(m.m AS DOUBLE) AS denom
         |       FROM dt LEFT JOIN ein USING (label) CROSS JOIN m),
         |t AS (SELECT sum(cnum) AS qnum FROM co)
         |SELECT label, n_nodes, e_in, d_tot,
         |       round(CAST(cnum AS DOUBLE) / denom, 6) + 0.0 AS contrib,
         |       round(CAST(t.qnum AS DOUBLE) / denom, 6) + 0.0 AS modularity
         |FROM co CROSS JOIN t ORDER BY label""".stripMargin,

    "graph_link_pred" ->
      s"""WITH d AS ($linkGraphSql),
        |e AS (SELECT src, dst FROM
        |        (SELECT src, dst FROM d UNION SELECT dst, src FROM d)
        |      WHERE src <> dst),
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |adj AS (SELECT e.src AS m, e.dst AS n
        |        FROM e JOIN deg ON e.src = deg.id WHERE deg <= 64),
        |w AS (SELECT l.n AS a, r.n AS b
        |      FROM adj l JOIN adj r ON l.m = r.m AND l.n < r.n),
        |c AS (SELECT a, b, count(*) AS common FROM w GROUP BY 1, 2)
        |SELECT a, b, common,
        |       da.deg + db.deg - common AS union_sz,
        |       round(CAST(common AS DOUBLE) / (da.deg + db.deg - common), 6)
        |         AS jaccard
        |FROM c JOIN deg da ON c.a = da.id JOIN deg db ON c.b = db.id
        |ORDER BY a, b""".stripMargin,

    // Genuine sequential BFS: the recursive CTE explores (node, dist)
    // pairs under the same dist < 8 cap the Spark relaxation rounds
    // impose; UNION dedup bounds exploration at nodes × 9 rows.
    "graph_bfs" ->
      s"""WITH RECURSIVE
        |d AS ($linkGraphSql),
        |walk(node, dist) AS (
        |  SELECT DISTINCT doc_id, CAST(0 AS BIGINT) FROM documents
        |  WHERE doc_id % 50 = 0
        |  UNION
        |  SELECT d.dst, walk.dist + 1 FROM walk JOIN d ON d.src = walk.node
        |  WHERE walk.dist < 8)
        |SELECT node, min(dist) AS dist FROM walk
        |GROUP BY node ORDER BY node""".stripMargin,

    // The identical 4-round peel unrolled as a CTE chain (k = 8).
    "graph_kcore" -> {
      val peel = (1 to 4).map { i =>
        s"""d$i AS (SELECT e.src AS id, count(*) AS deg FROM e
           |      WHERE e.src IN (SELECT id FROM a${i - 1})
           |        AND e.dst IN (SELECT id FROM a${i - 1}) GROUP BY 1),
           |a$i AS (SELECT id FROM d$i WHERE deg >= 8)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS ($linkGraphSql
         |      UNION ALL
         |      SELECT doc_id AS src, (doc_id + j) % 40 AS dst
         |      FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j) js
         |      WHERE doc_id < 40),
         |e AS (SELECT src, dst FROM
         |        (SELECT src, dst FROM d UNION SELECT dst, src FROM d)
         |      WHERE src <> dst),
         |a0 AS (SELECT DISTINCT src AS id FROM e),
         |$peel
         |SELECT e.src AS id, count(*) AS deg FROM e
         |WHERE e.src IN (SELECT id FROM a4) AND e.dst IN (SELECT id FROM a4)
         |GROUP BY 1 ORDER BY id""".stripMargin
    },

    // Unrolled 4-truss peel on the same planted graph: per round,
    // support = triangles per canonical edge ((a,c)-(b,c) wedge match
    // within the surviving adjacency), filter sup >= k-2 = 2; after 3
    // rounds, report support over the final survivor set WITHOUT
    // re-filtering (LEFT JOIN keeps triangle-free survivors as
    // support 0) — the exact Spark sequence.
    "graph_ktruss" -> {
      val peelRounds = (1 to 3).map { i =>
        s"""adj${i - 1} AS (SELECT a AS s, b AS t FROM u${i - 1}
           |        UNION ALL SELECT b, a FROM u${i - 1}),
           |s$i AS (SELECT u.a, u.b, count(*) AS sup
           |      FROM u${i - 1} u
           |      JOIN adj${i - 1} x ON x.s = u.a
           |      JOIN adj${i - 1} y ON y.s = u.b AND y.t = x.t
           |      GROUP BY u.a, u.b),
           |u$i AS (SELECT a, b FROM s$i WHERE sup >= 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS ($linkGraphSql
         |      UNION ALL
         |      SELECT doc_id AS src, (doc_id + j) % 40 AS dst
         |      FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4, 5]) AS j) js
         |      WHERE doc_id < 40),
         |u0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |       FROM d WHERE src <> dst),
         |$peelRounds,
         |adjF AS (SELECT a AS s, b AS t FROM u3 UNION ALL SELECT b, a FROM u3),
         |sF AS (SELECT u.a, u.b, count(*) AS sup
         |       FROM u3 u
         |       JOIN adjF x ON x.s = u.a
         |       JOIN adjF y ON y.s = u.b AND y.t = x.t
         |       GROUP BY u.a, u.b)
         |SELECT u.a, u.b, CAST(coalesce(sF.sup, 0) AS BIGINT) AS support
         |FROM u3 u LEFT JOIN sF USING (a, b)
         |ORDER BY a, b""".stripMargin
    },

    // Register-for-register HyperBall replay: per-node registers of
    // {self} (the shared hex-string rho algebra), 3 unrolled rounds of
    // max-merge along out-edges, then each round's closed-form
    // finalize — missing buckets contribute (256−present)·2^60 and
    // v0 = 256−present, so no 256-bucket spine is materialized. The
    // estimate expression repeats the Spark literal sequence exactly;
    // per-node floor(est·1e6) happens BEFORE the total, which is an
    // associative integer sum (HUGEINT here, BIGINT in Spark — cast
    // to BIGINT for the dtype match).
    "graph_hyperball" ->
      s"""WITH $hyperballCtes
         |SELECT t, n_nodes, sum_ball_micro FROM nb ORDER BY t""".stripMargin,

    // Interpolated effective diameter over the SAME replayed
    // neighborhood function: the first round t whose N(t) reaches 90%
    // of N(rmax), linearly interpolated between N(t−1) and N(t) — one
    // exact integer comparison (cur·10 ≥ nmax·9) and one division of
    // exact integers.
    "graph_effective_diameter" ->
      s"""WITH $hyperballCtes,
         |mx AS (SELECT max(sum_ball_micro) AS nmax FROM nb),
         |x AS (SELECT t, sum_ball_micro AS cur,
         |        lag(sum_ball_micro) OVER (ORDER BY t) AS prev
         |      FROM nb),
         |q AS (SELECT x.t, x.cur, x.prev, mx.nmax FROM x, mx
         |      WHERE x.cur * 10 >= mx.nmax * 9
         |      ORDER BY x.t LIMIT 1)
         |SELECT t AS t_reached,
         |       round(CASE WHEN t = 0 THEN 0.0
         |         ELSE (t - 1) + CAST(9 * nmax - 10 * prev AS DOUBLE)
         |              / CAST(10 * (cur - prev) AS DOUBLE) END, 6)
         |         AS effective_diameter
         |FROM q""".stripMargin,

    // Per-node joins over the SAME replayed register evolution (pn0–pn3
    // are exposed by the shared CTE); ball deltas and the per-term
    // pmod-subtraction floor divisions replay harmonic_micro exactly.
    "graph_closeness" ->
      s"""WITH $hyperballCtes,
         |w AS (SELECT pn0.id, pn0.est_micro AS b0, pn1.est_micro AS b1,
         |        pn2.est_micro AS b2, pn3.est_micro AS b3
         |      FROM pn0 JOIN pn1 USING (id) JOIN pn2 USING (id)
         |           JOIN pn3 USING (id))
         |SELECT id, b1 / 1e6 AS ball1, b2 / 1e6 AS ball2, b3 / 1e6 AS ball3,
         |       (b1 - b0
         |        + ((b2 - b1) - (((b2 - b1) % 2) + 2) % 2) // 2
         |        + ((b3 - b2) - (((b3 - b2) % 3) + 3) % 3) // 3) / 1e6
         |         AS harmonic
         |FROM w ORDER BY id""".stripMargin,

    // Register-for-register replay of the HLL set algebra: per-segment
    // rho registers over the SAME 48-bit shingle hashes, the union as
    // a bucketwise max, closed-form finalize (no 256-bucket spine),
    // inclusion–exclusion on micro-unit BIGINTs.
    "text_corpus_overlap" -> {
      val raw = "0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 " +
        "* 1152921504606846976.0 / CAST(ssum AS DOUBLE)"
      val estCase = s"""CASE WHEN $raw <= 640.0 AND v0 > 0
                       |  THEN 256.0 * ln(256.0 / CAST(v0 AS DOUBLE))
                       |  ELSE $raw END""".stripMargin
      val finBody = """sum(CAST(1 AS BIGINT) << (60 - mreg))
                      |  + CAST(256 - count(*) AS HUGEINT)
                      |    * CAST(1152921504606846976 AS HUGEINT) AS ssum,
                      |256 - count(*) AS v0""".stripMargin
      s"""WITH w AS (SELECT CASE WHEN CAST(substr(source, 4, 10) AS INT) % 2 = 0
         |             THEN 'even_sources' ELSE 'odd_sources' END AS seg,
         |           $wordsSql AS l FROM documents),
         |sh AS (SELECT seg,
         |         unnest(list_transform(generate_series(1, len(l) - 2),
         |           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingle
         |       FROM w WHERE len(l) >= 3),
         |kk AS (SELECT seg, ('0x' || substr(md5(shingle), 1, 12))::BIGINT AS k
         |       FROM sh),
         |h AS (SELECT seg, md5(CAST(k AS VARCHAR)) AS hx FROM kk),
         |r0 AS (SELECT seg,
         |         16 * (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1)
         |           + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
         |         ltrim(substr(hx, 3, 14), '0') AS stripped
         |       FROM h),
         |r1 AS (SELECT seg, bucket,
         |         CASE WHEN stripped = '' THEN 57
         |              ELSE 4 * (14 - length(stripped))
         |                + (4 - CASE WHEN strpos('0123456789abcdef',
         |                                        substr(stripped, 1, 1)) - 1 >= 8 THEN 4
         |                           WHEN strpos('0123456789abcdef',
         |                                        substr(stripped, 1, 1)) - 1 >= 4 THEN 3
         |                           WHEN strpos('0123456789abcdef',
         |                                        substr(stripped, 1, 1)) - 1 >= 2 THEN 2
         |                           ELSE 1 END) + 1 END AS rho
         |       FROM r0),
         |reg AS (SELECT seg, bucket, max(rho) AS mreg FROM r1 GROUP BY 1, 2),
         |fin AS (SELECT seg, $finBody FROM reg GROUP BY 1),
         |est AS (SELECT seg,
         |          CAST(floor(($estCase) * 1000000.0) AS BIGINT) AS est_micro
         |        FROM fin),
         |ureg AS (SELECT bucket, max(mreg) AS mreg FROM reg GROUP BY 1),
         |ufin AS (SELECT $finBody FROM ureg),
         |uest AS (SELECT CAST(floor(($estCase) * 1000000.0) AS BIGINT)
         |           AS est_union_micro FROM ufin),
         |ex AS (SELECT seg, count(DISTINCT k) AS ex FROM kk GROUP BY 1),
         |p AS (SELECT
         |        max(CASE WHEN seg = 'even_sources' THEN est_micro END)
         |          AS est_even_micro,
         |        max(CASE WHEN seg = 'odd_sources' THEN est_micro END)
         |          AS est_odd_micro FROM est),
         |x AS (SELECT
         |        CAST(max(CASE WHEN seg = 'even_sources' THEN ex END) AS BIGINT)
         |          AS exact_even,
         |        CAST(max(CASE WHEN seg = 'odd_sources' THEN ex END) AS BIGINT)
         |          AS exact_odd FROM ex)
         |SELECT est_even_micro, est_odd_micro, est_union_micro,
         |       est_even_micro + est_odd_micro - est_union_micro
         |         AS est_inter_micro,
         |       CAST(est_even_micro + est_odd_micro - est_union_micro AS DOUBLE)
         |         / CAST(est_union_micro AS DOUBLE) AS est_jaccard,
         |       exact_even, exact_odd
         |FROM p CROSS JOIN uest CROSS JOIN x""".stripMargin
    },

    "text_html_strip" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style type="text/css">p { color: red; }</style></head>' ||
        |  '<body><!-- id=' || CAST(doc_id AS VARCHAR) || ' -->' ||
        |  '<h1>Title &amp; &quot;quotes&quot;</h1><p class="lead">' ||
        |  substr(text, 1, 120) ||
        |  '</p><script>if (1 < 2) { x = "&amp;"; }</script>' ||
        |  '<p>tail &lt;tag&gt; &#39;q&#39;&nbsp;end</p></body></html>' AS html
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |        '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
        |        '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
        |        '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean_text
        |  FROM h)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_line_dedup" ->
      """WITH t AS (SELECT doc_id,
        |             regexp_replace(text, '((?:\S+ ){5}\S+) ',
        |                            '\1' || chr(10), 'g') AS tx
        |           FROM documents),
        |l AS (SELECT doc_id,
        |             unnest(string_split(tx, chr(10))) AS line,
        |             unnest(generate_series(1, len(string_split(tx, chr(10))))) AS line_no
        |      FROM t),
        |c AS (SELECT lower(trim(line)) AS k, count(*) AS cnt
        |      FROM l GROUP BY 1),
        |v AS (SELECT doc_id, line_no, line, cnt <= 2 AS keep
        |      FROM l JOIN c ON lower(trim(line)) = c.k)
        |SELECT doc_id,
        |       coalesce(string_agg(line, chr(10) ORDER BY line_no)
        |                  FILTER (keep), '') AS text_dedup,
        |       count(*) FILTER (keep) AS n_kept,
        |       count(*) FILTER (NOT keep) AS n_removed
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact stopword counts; the sketch sanity booleans are pinned TRUE
    // (q_approx_distinct pattern) — a drifting sketch flips them and
    // fails the hash compare.
    "text_countmin" -> {
      val candList = countMinCandidates.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, unnest($wordsSql) AS word FROM documents)
         |SELECT word, count(*) AS exact_count,
         |       TRUE AS never_underestimates, TRUE AS within_eps
         |FROM t WHERE word IN ($candList)
         |GROUP BY word ORDER BY word""".stripMargin
    },

    // Slice bounds replay Spark's slice(w, s+1, 64): 1-based start,
    // 64 elements, end-clamped — DuckDB's inclusive l[s+1 : s+64].
    "data_chunk" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |st AS (SELECT doc_id, l,
         |         unnest(list_filter(generate_series(0, len(l) - 1, 48),
         |                s -> s = 0 OR s + 16 < len(l))) AS s
         |       FROM w)
         |SELECT doc_id, s // 48 AS chunk_idx,
         |       len(l[s + 1 : s + 64]) AS chunk_tokens,
         |       md5(array_to_string(l[s + 1 : s + 64], ' ')) AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "data_zorder" -> {
      val zTerms = (0 until 8).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (SELECT user_id % 256 AS x,
         |             CAST(floor(value) AS BIGINT) % 256 AS y
         |           FROM events),
         |z AS (SELECT x, y, $zTerms AS z FROM b)
         |SELECT z // 1024 AS z_range, count(*) AS n,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY z_range""".stripMargin
    },

    "text_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // MOSS winnowing replayed with list ops: positional gram hashes,
    // per-window (w=4) minima, distinct. Slice hs[j:least(j+3,len)] is
    // the 4-wide window, capped when fewer than 4 grams exist.
    "text_winnow" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(generate_series(1, len(l) - 2),
         |          i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 12))::BIGINT) AS hs
         |      FROM w WHERE len(l) >= 3),
         |sel AS (SELECT doc_id,
         |          unnest(list_distinct(list_transform(
         |            generate_series(1, greatest(len(hs) - 3, 1)),
         |            j -> list_min(hs[j:least(j + 3, len(hs))])))) AS fp
         |        FROM g)
         |SELECT doc_id, fp FROM sel ORDER BY doc_id, fp""".stripMargin,

    "data_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 < 100
        |ORDER BY doc_id""".stripMargin,

    "data_stratified_sample" ->
      """SELECT event_id, event_type, user_id FROM events
        |WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 8))::BIGINT % 1000 <
        |      CASE event_type WHEN 'click' THEN 100 WHEN 'error' THEN 500
        |                      WHEN 'purchase' THEN 1000 ELSE 0 END
        |ORDER BY event_id""".stripMargin,

    "data_split_assign" ->
      """WITH b AS (SELECT doc_id,
        |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk
        |           FROM documents)
        |SELECT CASE WHEN bk < 800 THEN 'train'
        |            WHEN bk < 900 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n, min(doc_id) AS min_id
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "data_group_split" ->
      """WITH b AS (SELECT source,
        |             ('0x' || substr(md5(source), 1, 8))::BIGINT % 1000 AS bk
        |           FROM documents)
        |SELECT source,
        |       CASE WHEN bk < 800 THEN 'train'
        |            WHEN bk < 900 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM b GROUP BY 1, 2 ORDER BY source""".stripMargin,

    // Per-row keep probability = the doc's own alpha_ratio in permille,
    // same md5 bucket as data_sample.
    "data_weighted_sample" ->
      """WITH q AS (SELECT doc_id, lang, source,
        |             round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio
        |           FROM documents)
        |SELECT doc_id, lang, source FROM q
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000
        |      < CAST(round(alpha_ratio * 1000) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // rate_i = sqrt(min_tokens/tokens_i) in ppm — `/` and `sqrt` are
    // IEEE correctly-rounded single ops, so the double (and its ppm
    // rounding) is bit-identical across engines.
    "data_mixture_sample" ->
      s"""WITH d AS (SELECT doc_id, source, len($wordsSql) AS n_tokens FROM documents),
         |g AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |      FROM d GROUP BY source),
         |m AS (SELECT min(sum_tokens) AS min_tokens FROM g),
         |r AS (SELECT g.*, CAST(round(sqrt(CAST(min_tokens AS DOUBLE) / CAST(sum_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS rate_ppm
         |      FROM g, m),
         |k AS (SELECT d.source, count(*) AS n_kept, min(d.doc_id) AS min_id
         |      FROM d JOIN r USING (source)
         |      WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 < r.rate_ppm
         |      GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.sum_tokens, r.rate_ppm, k.n_kept, k.min_id
         |FROM r LEFT JOIN k USING (source) ORDER BY source""".stripMargin,

    "data_quota_sample" ->
      """WITH r AS (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |           FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 20 ORDER BY doc_id""".stripMargin,

    "data_oversample" ->
      """WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
        |m AS (SELECT max(n) AS maxn FROM c),
        |f AS (SELECT label, maxn // n AS factor FROM c CROSS JOIN m),
        |r AS (SELECT e.label, e.vec_id, u.rep
        |      FROM embeddings e JOIN f USING (label),
        |      LATERAL unnest(generate_series(1, f.factor)) AS u(rep))
        |SELECT label, count(*) AS n_after,
        |       CAST(sum(vec_id * rep) AS BIGINT) AS checksum
        |FROM r GROUP BY label ORDER BY label""".stripMargin,

    "data_label_balance" ->
      """WITH t AS (SELECT min(n) AS target FROM
        |             (SELECT label, count(*) AS n FROM embeddings GROUP BY 1)),
        |r AS (SELECT label, vec_id,
        |        row_number() OVER (PARTITION BY label
        |          ORDER BY md5(vec_id::VARCHAR), vec_id) AS rk
        |      FROM embeddings)
        |SELECT label, vec_id FROM r CROSS JOIN t
        |WHERE rk <= target ORDER BY label, vec_id""".stripMargin,

    // Same exact integer difficulty, quantile_cont cut points, and md5
    // pacing bucket.
    "data_curriculum" ->
      s"""WITH b AS (SELECT doc_id, $wordsSql AS l FROM documents),
         |s AS (SELECT doc_id, len(l)::BIGINT AS n_words,
         |        CAST(list_sum(list_transform(l, w -> len(w))) AS BIGINT) AS n_wchars
         |      FROM b),
         |d AS (SELECT doc_id, n_words,
         |        CAST(floor(n_wchars * 1000 / n_words) + n_words AS BIGINT) AS difficulty
         |      FROM s),
         |c AS (SELECT quantile_cont(difficulty, 0.25) AS c1,
         |             quantile_cont(difficulty, 0.5) AS c2,
         |             quantile_cont(difficulty, 0.75) AS c3
         |      FROM d)
         |SELECT doc_id, n_words, difficulty,
         |       1 + CASE WHEN difficulty > c1 THEN 1 ELSE 0 END
         |         + CASE WHEN difficulty > c2 THEN 1 ELSE 0 END
         |         + CASE WHEN difficulty > c3 THEN 1 ELSE 0 END AS stage,
         |       ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 % 16
         |         AS batch
         |FROM d CROSS JOIN c ORDER BY doc_id""".stripMargin,

    "data_interleave" ->
      """SELECT row_number() OVER (PARTITION BY source
        |         ORDER BY md5(doc_id::VARCHAR), doc_id) AS interleave_rank,
        |       source, doc_id
        |FROM documents
        |ORDER BY interleave_rank, source, doc_id""".stripMargin,

    "text_domains" ->
      """WITH t AS (SELECT doc_id,
        |             text || ' see https://' || lang || '.example.org/d/' || doc_id::VARCHAR ||
        |             ' and https://' || source || '.example.net/p/' || doc_id::VARCHAR AS txt
        |           FROM documents),
        |h AS (SELECT doc_id, unnest(regexp_extract_all(txt, 'https?://([^/\s]+)', 1)) AS host
        |      FROM t)
        |SELECT host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
        |FROM h WHERE host NOT IN ('src0.example.net')
        |GROUP BY host ORDER BY host""".stripMargin,

    "data_shuffle" ->
      """SELECT md5('42-' || doc_id::VARCHAR) AS shuffle_key, doc_id, source
        |FROM documents ORDER BY shuffle_key""".stripMargin,

    "data_pack" ->
      s"""WITH d AS (SELECT doc_id,
         |             len($wordsSql) AS n_tokens,
         |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS bucket
         |           FROM documents),
        |p AS (SELECT doc_id, n_tokens, bucket,
        |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
        |               ORDER BY md5(doc_id::VARCHAR), doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |             // 2048 AS BIGINT) AS bin
        |      FROM d)
        |SELECT bucket, bin, count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens, min(doc_id) AS min_id
        |FROM p GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin,

    "data_pack_split" ->
      s"""WITH d AS (SELECT doc_id,
         |             len($wordsSql) AS n_tokens,
         |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk,
         |             ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 4 AS bucket
         |           FROM documents),
         |s AS (SELECT *, CASE WHEN bk < 800 THEN 'train'
         |                     WHEN bk < 900 THEN 'val' ELSE 'test' END AS split
         |      FROM d),
         |p AS (SELECT doc_id, n_tokens, split, bucket,
         |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY split, bucket
         |               ORDER BY md5(doc_id::VARCHAR), doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             // 2048 AS BIGINT) AS bin
         |      FROM s)
         |SELECT split, bucket, bin, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens, min(doc_id) AS min_id
         |FROM p GROUP BY split, bucket, bin ORDER BY split, bucket, bin""".stripMargin,

    "ingest_jsonl" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    "ingest_orc" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // The XML roundtrip must reproduce the exact columns the documents
    // were rendered from.
    "ingest_xml" ->
      """SELECT o_orderkey, o_orderstatus AS status,
        |       o_orderpriority AS priority,
        |       CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "ingest_schema_evolution" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 2 = 0 THEN lang END AS lang,
        |       CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |       CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
        |       md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_array_funcs" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS l FROM documents)
         |SELECT doc_id,
         |       CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct,
         |       list_sort(l)[1] AS first_word,
         |       list_contains(l, 'the') AS has_the,
         |       CAST(list_position(l, 'the') AS BIGINT) AS pos_the,
         |       array_to_string(l[2:4], ' ') AS mid_words
         |FROM w ORDER BY doc_id""".stripMargin,

    "text_bpe" ->
      s"""SELECT doc_id,
         |  CAST(sum(length(replace(replace(replace(replace(w,
         |    'th', chr(1)), chr(1) || 'e', chr(2)),
         |    'in', chr(3)), 'an', chr(4)))) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(w)) AS BIGINT) AS n_chars_sq
         |FROM (SELECT doc_id, unnest($wordsSql) AS w FROM documents) t
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_bpe_train" -> {
      val rows = bpeReferenceMerges(10, 2).map { case (rank, l, r, m, f) =>
        s"($rank, '$l', '$r', '$m', $f)"
      }.mkString(", ")
      s"""SELECT merge_rank::INTEGER AS merge_rank, l, r, merged, freq::BIGINT AS freq
         |FROM (VALUES $rows) AS t(merge_rank, l, r, merged, freq)
         |ORDER BY merge_rank""".stripMargin
    },

    "ingest_quarantine" ->
      """SELECT count(*) AS n_total,
        |       count(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS n_quarantined,
        |       count(CASE WHEN doc_id % 10 <> 0 THEN 1 END) AS n_good,
        |       CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END) AS BIGINT) AS good_chars
        |FROM documents""".stripMargin,

    "pipeline_curation" ->
      s"""WITH q AS (SELECT doc_id, text, $wordsSql AS l,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
         |  round(len(list_filter($wordsSql, w -> w IN ($stopList))) * 1.0 / len($wordsSql), 4) AS stopword_ratio
         |FROM documents),
         |kept AS (SELECT * FROM q WHERE alpha_ratio >= 0.6 AND stopword_ratio >= 0.05),
         |surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |cur AS (SELECT k.* FROM kept k JOIN surv USING (doc_id)),
         |b AS (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk FROM cur)
         |SELECT CASE WHEN bk < 800 THEN 'train'
         |            WHEN bk < 900 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, min(doc_id) AS min_id,
         |       -- CAST: DuckDB sum(BIGINT) is HUGEINT -> pandas float64,
         |       -- which breaks the driver's exact hash vs Spark's BIGINT
         |       CAST(sum(len(l)) AS BIGINT) AS sum_tokens
         |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    // v2 = v1's quality/exact-dedup/split plan with the near-dup
    // survivor stage (the SAME minhash pair + component CTEs as
    // dedup_survivors, but over the curated set) inserted before the
    // split.
    "pipeline_curation_v2" ->
      s"""WITH RECURSIVE q AS (SELECT doc_id, text, $wordsSql AS l,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
         |  round(len(list_filter($wordsSql, w -> w IN ($stopList))) * 1.0 / len($wordsSql), 4) AS stopword_ratio
         |FROM documents),
         |kept AS (SELECT * FROM q WHERE alpha_ratio >= 0.6 AND stopword_ratio >= 0.05),
         |es AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |cur AS (SELECT k.* FROM kept k JOIN es USING (doc_id)),
         |${minhashCtesFrom("cur")},
         |$componentCtes,
         |fin AS (SELECT * FROM cur WHERE doc_id NOT IN (SELECT node FROM losers)),
         |sb AS (SELECT *, ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 1000 AS bk FROM fin)
         |SELECT CASE WHEN bk < 800 THEN 'train'
         |            WHEN bk < 900 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs, min(doc_id) AS min_id,
         |       CAST(sum(len(l)) AS BIGINT) AS sum_tokens
         |FROM sb GROUP BY 1 ORDER BY split""".stripMargin,

    // Incremental-ingest composition: the dedup_incremental band/sig
    // CTEs, candidate x-side restricted to the quality-gated batch;
    // the upsert degenerates to UNION ALL because batch and corpus key
    // spaces are disjoint (the Spark side runs the general full-outer
    // Upsert operator regardless).
    "pipeline_incremental" ->
      s"""WITH ${sigBandCtesFrom("documents")},
         |kept AS (SELECT doc_id, lang, source FROM documents
         |         WHERE doc_id % 10 = 0
         |           AND round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) >= 0.6),
         |cand AS (SELECT DISTINCT x.doc_id AS new_doc, y.doc_id AS corpus_doc
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.band_key = y.band_key
         |        WHERE x.doc_id IN (SELECT doc_id FROM kept)
         |          AND y.doc_id % 10 <> 0),
         |est AS (SELECT new_doc, corpus_doc,
         |          round(avg(CASE WHEN a.minh = b.minh THEN 1.0 ELSE 0.0 END), 4) AS ej
         |        FROM cand
         |        JOIN sig a ON a.doc_id = new_doc
         |        JOIN sig b ON b.doc_id = corpus_doc AND a.seed = b.seed
         |        GROUP BY 1, 2),
         |matched AS (SELECT DISTINCT new_doc FROM est WHERE ej >= 0.5),
         |merged AS (SELECT doc_id, lang, source FROM documents WHERE doc_id % 10 <> 0
         |           UNION ALL
         |           SELECT doc_id, lang, source FROM kept
         |           WHERE doc_id NOT IN (SELECT new_doc FROM matched))
         |SELECT source, count(*) AS n_docs, min(doc_id) AS min_id
         |FROM merged GROUP BY source ORDER BY source""".stripMargin,

    // curation (same CTEs as pipeline_curation_v2) → chunking (same
    // slice math as data_chunk) → packing (same md5-order windows as
    // data_pack, keyed by chunk_id).
    "pipeline_training_batches" ->
      s"""WITH RECURSIVE q AS (SELECT doc_id, text, $wordsSql AS l,
         |  round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text), 4) AS alpha_ratio,
         |  round(len(list_filter($wordsSql, w -> w IN ($stopList))) * 1.0 / len($wordsSql), 4) AS stopword_ratio
         |FROM documents),
         |kept AS (SELECT * FROM q WHERE alpha_ratio >= 0.6 AND stopword_ratio >= 0.05),
         |es AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text),
         |cur AS (SELECT k.* FROM kept k JOIN es USING (doc_id)),
         |${minhashCtesFrom("cur")},
         |$componentCtes,
         |fin AS (SELECT doc_id, l FROM cur
         |        WHERE doc_id NOT IN (SELECT node FROM losers)),
         |st AS (SELECT doc_id, l,
         |         unnest(list_filter(generate_series(0, len(l) - 1, 48),
         |                s -> s = 0 OR s + 16 < len(l))) AS s
         |       FROM fin),
         |ch AS (SELECT doc_id * 1000 + s // 48 AS chunk_id,
         |              len(l[s + 1 : s + 64]) AS n_tokens
         |       FROM st),
         |d AS (SELECT chunk_id, n_tokens,
         |        ('0x' || substr(md5(chunk_id::VARCHAR), 1, 8))::BIGINT % 4 AS bucket
         |      FROM ch),
         |p AS (SELECT chunk_id, n_tokens, bucket,
         |        CAST(coalesce(sum(n_tokens) OVER (PARTITION BY bucket
         |               ORDER BY md5(chunk_id::VARCHAR), chunk_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |             // 2048 AS BIGINT) AS bin
         |      FROM d)
         |SELECT bucket, bin, count(*) AS n_chunks,
         |       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         |       min(chunk_id) AS min_chunk
         |FROM p GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |       octet_length(encode(text))
        |         + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 54 END AS n_bytes,
        |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS format,
        |       ('0x' || substr(md5(text), 1, 4))::BIGINT % 640 + 1 AS width,
        |       ('0x' || substr(md5(text), 5, 4))::BIGINT % 480 + 1 AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    // WAV header replay: channel count / sample rate from the same md5
    // formula the synthesizer folds; 44-byte canonical PCM header; frame
    // and duration math floor-divides exactly as a decoder would.
    "multimodal_audio_meta" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS nb,
        |         ('0x' || substr(md5(text), 9, 4))::BIGINT % 2 + 1 AS nch,
        |         list_value(8000, 16000, 22050, 44100)[
        |           (('0x' || substr(md5(text), 13, 4))::BIGINT % 4 + 1)::INT] AS rate
        |       FROM documents)
        |SELECT doc_id AS media_id,
        |       CAST(nb + 44 AS BIGINT) AS n_bytes,
        |       'wav' AS format,
        |       CAST(nch AS BIGINT) AS n_channels,
        |       CAST(rate AS BIGINT) AS sample_rate,
        |       CAST(16 AS BIGINT) AS bits_per_sample,
        |       CAST(nb // (nch * 2) AS BIGINT) AS n_samples,
        |       CAST((nb // (nch * 2)) * 1000 // rate AS BIGINT) AS duration_ms
        |FROM m ORDER BY media_id""".stripMargin,

    // PCM replay: the WAV body is the ASCII text, so decoded sample i is
    // ord(c_{2i+1}) + 256·ord(c_{2i+2}) (both bytes < 128 — never a
    // negative s16); frames floor-align to the block size (2·nch bytes)
    // exactly as the decoder truncates, and the per-doc sample count is
    // frames·nch. Docs too short for one frame sum to 0 over an empty
    // series.
    "multimodal_audio_decode" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS nb,
        |         ('0x' || substr(md5(text), 9, 4))::BIGINT % 2 + 1 AS nch,
        |         list_value(8000, 16000, 22050, 44100)[
        |           (('0x' || substr(md5(text), 13, 4))::BIGINT % 4 + 1)::INT] AS rate
        |       FROM documents),
        |s AS (SELECT m.doc_id,
        |        CAST(sum(ord(substr(m.text, 2*u.i + 1, 1))
        |             + 256 * ord(substr(m.text, 2*u.i + 2, 1))) AS BIGINT) AS ss
        |      FROM m, LATERAL unnest(generate_series(0,
        |             (m.nb // (2 * m.nch)) * m.nch - 1)) AS u(i)
        |      GROUP BY m.doc_id)
        |SELECT m.doc_id AS media_id, 'wav' AS format,
        |       CAST(m.nch AS BIGINT) AS n_channels,
        |       CAST(m.rate AS BIGINT) AS sample_rate,
        |       CAST(m.nb // (2 * m.nch) AS BIGINT) AS n_frames,
        |       coalesce(s.ss, 0) AS sum_samples
        |FROM m LEFT JOIN s ON s.doc_id = m.doc_id
        |ORDER BY media_id""".stripMargin,

    // Same character-pair PCM replay as audio_decode, extended with the
    // square sum (RMS) and the i-mod-nch channel de-interleave.
    "multimodal_audio_features" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS nb,
        |         ('0x' || substr(md5(text), 9, 4))::BIGINT % 2 + 1 AS nch
        |       FROM documents),
        |s AS (SELECT m.doc_id, m.nch, count(*) AS cnt,
        |        CAST(sum((ord(substr(m.text, 2*u.i + 1, 1))
        |                  + 256 * ord(substr(m.text, 2*u.i + 2, 1)))
        |               * (ord(substr(m.text, 2*u.i + 1, 1))
        |                  + 256 * ord(substr(m.text, 2*u.i + 2, 1)))) AS BIGINT) AS ssq,
        |        CAST(sum(CASE WHEN u.i % m.nch = 0 THEN
        |               ord(substr(m.text, 2*u.i + 1, 1))
        |               + 256 * ord(substr(m.text, 2*u.i + 2, 1)) END) AS BIGINT) AS c0,
        |        CAST(sum(CASE WHEN u.i % m.nch = 1 THEN
        |               ord(substr(m.text, 2*u.i + 1, 1))
        |               + 256 * ord(substr(m.text, 2*u.i + 2, 1)) END) AS BIGINT) AS c1
        |      FROM m, LATERAL unnest(generate_series(0,
        |             (m.nb // (2 * m.nch)) * m.nch - 1)) AS u(i)
        |      GROUP BY m.doc_id, m.nch)
        |SELECT m.doc_id AS media_id, 'wav' AS format,
        |       CAST(m.nb // (2 * m.nch) AS BIGINT) AS n_frames,
        |       CASE WHEN s.cnt IS NULL OR s.cnt = 0 THEN NULL
        |            ELSE round(sqrt(CAST(s.ssq AS DOUBLE) / CAST(s.cnt AS DOUBLE)), 4)
        |       END AS rms,
        |       coalesce(s.c0, 0) AS ch0_sum,
        |       CASE WHEN m.nch = 2 THEN coalesce(s.c1, 0) ELSE NULL END AS ch1_sum
        |FROM m LEFT JOIN s ON s.doc_id = m.doc_id
        |ORDER BY media_id""".stripMargin,

    // Same byte→sample replay plus a lag term: sample i minus sample
    // i−nch (same channel), squared and summed in exact BIGINTs; the
    // ratio is the identical single division.
    "multimodal_audio_flux" ->
      """WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS nb,
        |         ('0x' || substr(md5(text), 9, 4))::BIGINT % 2 + 1 AS nch
        |       FROM documents),
        |s AS (SELECT m.doc_id, m.nch, count(*) AS cnt,
        |        CAST(sum((ord(substr(m.text, 2*u.i + 1, 1))
        |                  + 256 * ord(substr(m.text, 2*u.i + 2, 1)))
        |               * (ord(substr(m.text, 2*u.i + 1, 1))
        |                  + 256 * ord(substr(m.text, 2*u.i + 2, 1)))) AS BIGINT)
        |          AS ssq,
        |        CAST(sum(CASE WHEN u.i >= m.nch THEN
        |               (ord(substr(m.text, 2*u.i + 1, 1))
        |                + 256 * ord(substr(m.text, 2*u.i + 2, 1))
        |                - ord(substr(m.text, 2*(u.i - m.nch) + 1, 1))
        |                - 256 * ord(substr(m.text, 2*(u.i - m.nch) + 2, 1)))
        |               * (ord(substr(m.text, 2*u.i + 1, 1))
        |                  + 256 * ord(substr(m.text, 2*u.i + 2, 1))
        |                  - ord(substr(m.text, 2*(u.i - m.nch) + 1, 1))
        |                  - 256 * ord(substr(m.text, 2*(u.i - m.nch) + 2, 1)))
        |             ELSE 0 END) AS BIGINT) AS diff2
        |      FROM m, LATERAL unnest(generate_series(0,
        |             (m.nb // (2 * m.nch)) * m.nch - 1)) AS u(i)
        |      GROUP BY m.doc_id, m.nch)
        |SELECT m.doc_id AS media_id, 'wav' AS format,
        |       CAST((m.nb // (2 * m.nch)) * m.nch AS BIGINT) AS n_samples,
        |       coalesce(s.ssq, 0) AS ssq, coalesce(s.diff2, 0) AS diff2,
        |       CASE WHEN s.ssq IS NULL OR s.ssq = 0 THEN NULL
        |            ELSE CAST(s.diff2 AS DOUBLE) / CAST(s.ssq AS DOUBLE)
        |       END AS hf_ratio
        |FROM m LEFT JOIN s ON s.doc_id = m.doc_id
        |ORDER BY media_id""".stripMargin,

    // JPEG replay: total bytes = SOI(2) + COM(4 + n) + SOF0(13) + EOI(2)
    // + body, with n, width, height from the same md5 formulas the
    // synthesizer folds. The Spark side must recover width/height by
    // WALKING the segment chain — the COM length varies per row.
    "multimodal_jpeg_meta" ->
      """SELECT doc_id AS media_id,
        |       CAST(octet_length(encode(text)) + 21
        |            + (('0x' || substr(md5(text), 17, 4))::BIGINT % 16 + 1)
        |         AS BIGINT) AS n_bytes,
        |       'jpeg' AS format,
        |       ('0x' || substr(md5(text), 21, 4))::BIGINT % 1024 + 1 AS width,
        |       ('0x' || substr(md5(text), 25, 4))::BIGINT % 768 + 1 AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_partition_prune" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE source = (SELECT min(source) FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The metadata-column contract stated from plain counts: one fixture
    // file, dense 0-based row_index.
    "q_metadata_columns" ->
      """SELECT 'events.parquet' AS file, count(*) AS n_rows,
        |       CAST(0 AS BIGINT) AS min_ri,
        |       CAST(count(*) - 1 AS BIGINT) AS max_ri,
        |       count(*) AS n_distinct_ri
        |FROM events""".stripMargin,

    // Arithmetic replay of the closed-form pixel formula the real-PNG
    // synthesizer rasterizes: w = id%29+4, h = id%23+4, per-channel
    // sums in closed form (Σ3x = 3·h·w(w−1)/2 etc.; no mod wrap since
    // every channel value < 256 by construction). The Spark side must
    // reproduce these by actually ImageIO-decoding the PNG bytes.
    "multimodal_decode" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h
        |           FROM documents)
        |SELECT doc_id AS media_id, 'png' AS format,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(3 * h * (w * (w-1) // 2) + 5 * w * (h * (h-1) // 2)
        |            + w * h * (doc_id % 7) AS BIGINT) AS sum_r,
        |       CAST(2 * h * (w * (w-1) // 2) + 7 * w * (h * (h-1) // 2)
        |            + w * h * (doc_id % 11) AS BIGINT) AS sum_g,
        |       CAST(1 * h * (w * (w-1) // 2) + 4 * w * (h * (h-1) // 2)
        |            + w * h * (doc_id % 13) AS BIGINT) AS sum_b
        |FROM m ORDER BY media_id""".stripMargin,

    // Palette replay: re-rasterize the closed-form pixel formula over
    // the (x, y) grid (x = i % w, y = i // w — the formula is
    // per-pixel, so enumeration order is irrelevant), quantize each
    // channel by // 64, count per 64-way bucket, argmax with the
    // smallest-bucket tie-break the walker uses.
    "multimodal_palette" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h
        |           FROM documents),
        |g AS (SELECT m.doc_id, m.w, m.h,
        |        ((3 * (u.i % m.w) + 5 * (u.i // m.w) + m.doc_id % 7) // 64) * 16
        |        + ((2 * (u.i % m.w) + 7 * (u.i // m.w) + m.doc_id % 11) // 64) * 4
        |        + ((1 * (u.i % m.w) + 4 * (u.i // m.w) + m.doc_id % 13) // 64)
        |          AS bucket
        |      FROM m, LATERAL unnest(generate_series(0, m.w * m.h - 1)) AS u(i)),
        |c AS (SELECT doc_id, w, h, bucket, count(*) AS n_px,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY count(*) DESC, bucket) AS rk
        |      FROM g GROUP BY doc_id, w, h, bucket)
        |SELECT doc_id AS media_id, 'png' AS format,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(bucket AS BIGINT) AS bucket,
        |       CAST(bucket // 16 AS BIGINT) AS bucket_r,
        |       CAST(bucket // 4 % 4 AS BIGINT) AS bucket_g,
        |       CAST(bucket % 4 AS BIGINT) AS bucket_b,
        |       CAST(n_px AS BIGINT) AS n_px
        |FROM c WHERE rk = 1 ORDER BY media_id""".stripMargin,

    // Nearest-neighbor replay: target 8×6, source pixel (⌊x'·w/8⌋,
    // ⌊y'·h/6⌋), summed over the 48 target pixels per doc.
    "multimodal_resize" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h
        |           FROM documents),
        |     g AS (SELECT doc_id, (xp * w) // 8 AS sx, (yp * h) // 6 AS sy
        |           FROM m
        |           CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS xp) xs
        |           CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS yp) ys)
        |SELECT doc_id AS media_id, 'png' AS format,
        |       CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        |       CAST(sum(3*sx + 5*sy + (doc_id % 7)) AS BIGINT) AS sum_r,
        |       CAST(sum(2*sx + 7*sy + (doc_id % 11)) AS BIGINT) AS sum_g,
        |       CAST(sum(sx + 4*sy + (doc_id % 13)) AS BIGINT) AS sum_b
        |FROM g GROUP BY doc_id ORDER BY media_id""".stripMargin,

    // Frame replay: 4 frames synthesized, 2 sampled at stride ⌊k·4/2⌋
    // → source frames 0 and 2; frame t shifts the formula constant
    // ((id+t) mod c), so decoding the wrong frame flips the sums.
    "multimodal_frames" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h,
        |                  f.k AS frame_idx, f.k * 2 AS t
        |           FROM documents
        |           CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k) f)
        |SELECT doc_id AS media_id, frame_idx, t AS src_frame,
        |       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |       CAST(3 * h * (w * (w-1) // 2) + 5 * w * (h * (h-1) // 2)
        |            + w * h * ((doc_id + t) % 7) AS BIGINT) AS sum_r,
        |       CAST(2 * h * (w * (w-1) // 2) + 7 * w * (h * (h-1) // 2)
        |            + w * h * ((doc_id + t) % 11) AS BIGINT) AS sum_g,
        |       CAST(1 * h * (w * (w-1) // 2) + 4 * w * (h * (h-1) // 2)
        |            + w * h * ((doc_id + t) % 13) AS BIGINT) AS sum_b
        |FROM m ORDER BY media_id, frame_idx""".stripMargin,

    // Frame-delta replay from the pixel formula: channel sums differ
    // only in the w·h·((id+t) mod m) term, so the per-pixel delta is
    // |Δmod7| + |Δmod11| + |Δmod13| exactly.
    "multimodal_scene_cut" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h,
        |                  f.k AS frame_idx
        |           FROM documents
        |           CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) f),
        |s AS (SELECT doc_id AS media_id, frame_idx, w, h,
        |        CAST(3 * h * (w * (w-1) // 2) + 5 * w * (h * (h-1) // 2)
        |             + w * h * ((doc_id + frame_idx) % 7) AS BIGINT) AS sum_r,
        |        CAST(2 * h * (w * (w-1) // 2) + 7 * w * (h * (h-1) // 2)
        |             + w * h * ((doc_id + frame_idx) % 11) AS BIGINT) AS sum_g,
        |        CAST(1 * h * (w * (w-1) // 2) + 4 * w * (h * (h-1) // 2)
        |             + w * h * ((doc_id + frame_idx) % 13) AS BIGINT) AS sum_b
        |      FROM m),
        |d AS (SELECT media_id, frame_idx, w, h,
        |        abs(sum_r - lag(sum_r) OVER (PARTITION BY media_id ORDER BY frame_idx))
        |        + abs(sum_g - lag(sum_g) OVER (PARTITION BY media_id ORDER BY frame_idx))
        |        + abs(sum_b - lag(sum_b) OVER (PARTITION BY media_id ORDER BY frame_idx))
        |          AS pd
        |      FROM s)
        |SELECT media_id, frame_idx,
        |       CAST(pd // (w * h) AS BIGINT) AS delta_ppx,
        |       pd // (w * h) >= 8 AS is_cut
        |FROM d ORDER BY media_id, frame_idx""".stripMargin,

    // Histogram replay: per-pixel luminance ⌊(r+g+b)/3⌋ binned into 16
    // (bin = luma·16//256), graded as the bin-weighted checksum
    // Σ bin·count ≡ Σ_pixels bin(pixel).
    "multimodal_features" ->
      """WITH m AS (SELECT doc_id, doc_id % 29 + 4 AS w, doc_id % 23 + 4 AS h
        |           FROM documents),
        |     px AS (SELECT doc_id, w, h,
        |                   (((3*xp + 5*yp + (doc_id % 7))
        |                     + (2*xp + 7*yp + (doc_id % 11))
        |                     + (xp + 4*yp + (doc_id % 13))) // 3) * 16 // 256 AS bin
        |            FROM m
        |            CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS xp) xs
        |            CROSS JOIN (SELECT unnest(generate_series(0, 25)) AS yp) ys
        |            WHERE xp < w AND yp < h)
        |SELECT doc_id AS media_id, CAST(w * h AS INT) AS n_pixels,
        |       16 AS dim, CAST(sum(bin) AS BIGINT) AS hist_checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin,

    "multimodal_phash" -> (phashOracleCore +
      """
        |SELECT media_id, phash, n_ones FROM ph ORDER BY media_id""".stripMargin),

    "multimodal_phash_groups" -> (phashOracleCore +
      """
        |SELECT phash, count(*) AS n_images, min(media_id) AS keep_id,
        |       max(media_id) AS max_id
        |FROM ph GROUP BY phash ORDER BY phash""".stripMargin),

    // Formula replay of the luma moments over the full (x, y) grid:
    // same BT.601 milli-weights, exact integer Σl/Σl², identical
    // single-division variance and IEEE sqrt.
    "multimodal_contrast" ->
      """WITH d AS (SELECT doc_id AS media_id, doc_id % 29 + 4 AS w,
        |             doc_id % 23 + 4 AS h FROM documents),
        |px AS (SELECT media_id, w, h,
        |         299*(3*x + 5*y + media_id % 7)
        |         + 587*(2*x + 7*y + media_id % 11)
        |         + 114*(x + 4*y + media_id % 13) AS l
        |       FROM d
        |       CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS x) xs
        |       CROSS JOIN (SELECT unnest(generate_series(0, 25)) AS y) ys
        |       WHERE x < w AND y < h),
        |m AS (SELECT media_id,
        |        CAST(count(*) AS BIGINT) AS n_pixels,
        |        CAST(sum(l) AS BIGINT) AS sum_lum,
        |        CAST(sum(CAST(l AS BIGINT) * l) AS BIGINT) AS sum_lum2
        |      FROM px GROUP BY 1)
        |SELECT media_id, n_pixels, sum_lum,
        |       n_pixels * sum_lum2 - sum_lum * sum_lum AS var_num,
        |       CAST(n_pixels * sum_lum2 - sum_lum * sum_lum AS DOUBLE)
        |         / CAST(n_pixels * n_pixels AS DOUBLE) AS contrast_var,
        |       sqrt(CAST(n_pixels * sum_lum2 - sum_lum * sum_lum AS DOUBLE)
        |            / CAST(n_pixels * n_pixels AS DOUBLE)) AS contrast_rms
        |FROM m ORDER BY media_id""".stripMargin,

    // Replays the langid argmax CASE chain over the same marker lists,
    // then the exact token/char sums and micro-unit floor divisions.
    "text_fertility" -> {
      val scoreCols = TextAnalysis.LangMarkers.map { case (lang, markers) =>
        val in = markers.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(l, w -> w IN ($in))) AS score_$lang"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val pred = langs.zipWithIndex.init.foldRight(s"'${langs.last}'") {
        case ((lang, i), elseSql) =>
          val conds = langs.drop(i + 1)
            .map(o => s"score_$lang >= score_$o").mkString(" AND ")
          s"CASE WHEN $conds THEN '$lang' ELSE $elseSql END"
      }
      val bpe = TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""WITH w AS (SELECT doc_id, lang, $wordsSql AS l, text FROM documents),
         |sc AS (SELECT doc_id, lang, text, l,
         |  $scoreCols
         |FROM w),
         |p AS (SELECT lang, $pred AS pred_lang,
         |        CAST(len(l) AS BIGINT) AS n_tokens,
         |        CAST(len(regexp_extract_all(text, '$bpe')) AS BIGINT)
         |          AS n_tokens_bpe,
         |        CAST(length(text) AS BIGINT) AS n_chars
         |      FROM sc),
         |g AS (SELECT lang, pred_lang, count(*) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS words,
         |        CAST(sum(n_tokens_bpe) AS BIGINT) AS bpe_tokens,
         |        CAST(sum(n_chars) AS BIGINT) AS chars
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, pred_lang, n_docs, words, bpe_tokens, chars,
         |       ((bpe_tokens * 1000000) // words) / 1e6 AS fertility,
         |       ((chars * 1000000) // bpe_tokens) / 1e6 AS chars_per_token
         |FROM g ORDER BY lang, pred_lang""".stripMargin
    },

    // Window cumsum over the same (count desc, word) total order replays
    // the sweep; the keep predicate is the identical BIGINT inequality.
    "text_top_p_vocab" ->
      s"""WITH w AS (SELECT unnest($wordsSql) AS word FROM documents),
         |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         |r AS (SELECT word, cnt,
         |        CAST(sum(cnt) OVER (ORDER BY cnt DESC, word) AS BIGINT) AS cum
         |      FROM c)
         |SELECT word, cnt, cum,
         |       ((cnt * 1000000) // t.total) / 1e6 AS share
         |FROM r CROSS JOIN t
         |WHERE (cum - cnt) * 10 < t.total * 9
         |ORDER BY cnt DESC, word""".stripMargin,

    // Per-BAND collision replay (bcand is NOT distinct — the stream
    // emits once per colliding band, and that multiplicity is graded);
    // est joins back from the distinct-pair signature agreement.
    "stream_neardup" ->
      s"""WITH ${sigBandCtesFrom("documents")},
         |bcand AS (SELECT x.band, x.doc_id AS doc_a, y.doc_id AS doc_b
         |          FROM bands x JOIN bands y
         |            ON x.band = y.band AND x.band_key = y.band_key
         |           AND x.doc_id < y.doc_id),
         |est AS (SELECT c.doc_a, c.doc_b,
         |          round(avg(CASE WHEN a.minh = b.minh THEN 1.0 ELSE 0.0 END),
         |                4) AS est_jaccard
         |        FROM (SELECT DISTINCT doc_a, doc_b FROM bcand) c
         |        JOIN sig a ON a.doc_id = c.doc_a
         |        JOIN sig b ON b.doc_id = c.doc_b AND a.seed = b.seed
         |        GROUP BY c.doc_a, c.doc_b)
         |SELECT bc.doc_a, bc.doc_b, est_jaccard
         |FROM bcand bc JOIN est ON est.doc_a = bc.doc_a
         |                      AND est.doc_b = bc.doc_b
         |WHERE est_jaccard >= 0.5
         |ORDER BY bc.doc_a, bc.doc_b""".stripMargin,

    // Replays the label join + BPE token counts, the equal-share
    // budget floor divisions, and the identical md5-carved keep gate.
    "pipeline_lang_rebalance" -> {
      val bpe = TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""WITH p AS (SELECT doc_id, lang AS pred_lang,
         |        CAST(len(regexp_extract_all(text, '$bpe')) AS BIGINT)
         |          AS n_tokens_bpe
         |      FROM documents),
         |pl AS (SELECT pred_lang, count(*) AS n_docs,
         |         CAST(sum(n_tokens_bpe) AS BIGINT) AS tok
         |       FROM p GROUP BY 1),
         |t AS (SELECT CAST(sum(tok) AS BIGINT) AS t,
         |        count(*) AS nlang FROM pl),
         |al AS (SELECT pred_lang, n_docs, tok,
         |         least(1000000, ((t.t // t.nlang) * 1000000) // tok)
         |           AS frac_micro
         |       FROM pl CROSS JOIN t),
         |k AS (SELECT p.pred_lang, p.n_tokens_bpe, al.n_docs, al.tok,
         |        al.frac_micro,
         |        (('0x' || substr(md5(p.doc_id::VARCHAR), 1, 6))::BIGINT
         |          % 1000000) < al.frac_micro AS keep
         |      FROM p JOIN al USING (pred_lang))
         |SELECT pred_lang, any_value(n_docs) AS n_docs,
         |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       any_value(tok) AS tokens_total,
         |       CAST(sum(CASE WHEN keep THEN n_tokens_bpe ELSE 0 END)
         |         AS BIGINT) AS tokens_kept,
         |       any_value(frac_micro) / 1e6 AS keep_frac
         |FROM k GROUP BY 1 ORDER BY pred_lang""".stripMargin
    },

    // Same exact-integer alpha-ratio score and packed min/max algebra
    // (2^33 pack, complement trick for the smallest-id tie-break).
    "data_preference_pairs" ->
      """WITH sc AS (SELECT source, doc_id,
        |              (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        |               * 1000000) // length(text) AS score_micro
        |            FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |        max(score_micro * 8589934592 + (8589934591 - doc_id)) AS pmax,
        |        min(score_micro * 8589934592 + doc_id) AS pmin
        |      FROM sc GROUP BY 1)
        |SELECT source, n_docs,
        |       8589934591 - (pmax % 8589934592) AS chosen_id,
        |       pmin % 8589934592 AS rejected_id,
        |       (pmax // 8589934592) / 1e6 AS chosen_score,
        |       (pmin // 8589934592) / 1e6 AS rejected_score,
        |       ((pmax // 8589934592) - (pmin // 8589934592)) / 1e6 AS margin
        |FROM g ORDER BY source""".stripMargin)

  // dHash replay from the pixel formula: sampled source columns
  // (x·w)//8 for the 8 grid columns, BT.601 milli-weight luma, one sign
  // bit per adjacent-column pair packed at y*7+x.
  private lazy val phashOracleCore =
    """WITH d AS (SELECT doc_id AS media_id, doc_id % 29 + 4 AS w,
      |             doc_id % 23 + 4 AS h FROM documents),
      |cells AS (SELECT media_id, x, y,
      |            (x * w) // 8 AS sx, ((x + 1) * w) // 8 AS sx1,
      |            (y * h) // 8 AS sy
      |          FROM d
      |          CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS x) xs
      |          CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys),
      |lums AS (SELECT media_id, x, y,
      |           299*(3*sx + 5*sy + media_id % 7)
      |           + 587*(2*sx + 7*sy + media_id % 11)
      |           + 114*(sx + 4*sy + media_id % 13) AS l0,
      |           299*(3*sx1 + 5*sy + media_id % 7)
      |           + 587*(2*sx1 + 7*sy + media_id % 11)
      |           + 114*(sx1 + 4*sy + media_id % 13) AS l1
      |         FROM cells),
      |ph AS (SELECT media_id,
      |         CAST(sum(CASE WHEN l1 > l0
      |                       THEN (1::BIGINT << (y*7 + x)) ELSE 0 END)
      |           AS BIGINT) AS phash,
      |         CAST(sum(CASE WHEN l1 > l0 THEN 1 ELSE 0 END) AS INT) AS n_ones
      |       FROM lums GROUP BY media_id)""".stripMargin
}
