package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Session
import graft.operators.{Dedup, Graph, Hierarchy, Similarity, Sweep, TextAnalysis}

/** Empirical scaling probe for the near-dup operators: replicates the
  * sf0.1 documents corpus xN (ids shifted, text perturbed per copy so
  * copies are near- but not exact duplicates of each other) and times
  * each operator at 1x/4x/16x. Linear-ish growth is the evidence that
  * the banded/bucketed shapes hold as data scales; quadratic growth
  * would expose an all-pairs term. Results recorded in COVERAGE.md
  * (round-2 notes).
  *
  * Usage: runMain graft.tools.ScaleProbe [sfDir]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Session.local()
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nBase = base.count()

    def scaled(factor: Int): DataFrame =
      (0 until factor).map { i =>
        base.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(lit(s"copy$i marker token "), col("text")).as("text"))
      }.reduce(_ unionByName _)

    def time(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime(); val n = f; (n, (System.nanoTime() - t0) / 1e9)
    }

    println(s"PROBE base_docs=$nBase")
    Seq(1, 4, 16).foreach { factor =>
      val df = scaled(factor)
      // warm each shape once at this scale, then time
      // fixed-size delta (one perturbed copy of the base corpus) vs the
      // xN corpus: incremental ingest cost should track the CORPUS
      // band join linearly, never the corpus² of a full re-dedup
      val delta = base.select(
        (col("doc_id") + lit(900000000L)).as("doc_id"),
        concat(lit("delta marker "), col("text")).as("text"))
      val ops: Seq[(String, () => Long)] = Seq(
        "minhash" -> (() => Dedup.minhashPairs(df, "doc_id", "text").count()),
        "ngram" -> (() => Dedup.shingleJaccardPairs(df, "doc_id", "text").count()),
        "simhash" -> (() => Dedup.simhashPairs(df, "doc_id", "text").count()),
        // Prefix filtering is EXACT with no df cap: the nonlinearity
        // risk is the candidate join on prefix tokens. Replication
        // makes every copy-family shingle hotter (df grows with the
        // factor), so this probe stresses exactly the hot-token case
        // the rarest-first prefix ordering is supposed to defuse —
        // growth should track the true pair mass, never df².
        "prefix_filter" -> (() =>
          Dedup.prefixFilterPairs(df, "doc_id", "text").count()),
        "incremental" -> (() =>
          Dedup.incrementalMinhashMatches(delta, df, "doc_id", "text").count()))
      ops.foreach { case (name, f) =>
        f() // warm
        val (rows, sec) = time(f())
        println(f"PROBE x$factor $name docs=${nBase * factor} pairs=$rows time=$sec%.2fs")
      }
      // Round-4 text operators: heavy hitters' nonlinearity risk is the
      // candidate recount join (candidates are bounded by capacity ×
      // partitions, so the join stays broadcast — cost should track the
      // corpus scan); TF-IDF's is the word-level df aggregation (shuffle
      // over the tf table, which grows with the corpus). Both should be
      // ~linear in docs.
      // Session-3 additions: boilerplate + LM score are shingle/bigram
      // count-table joins (state bounded by the distinct-key universe);
      // dup-spans adds the positional semi-join + per-doc window. All
      // three should track the corpus (and its true duplicate mass),
      // never N².
      val textOps: Seq[(String, () => Long)] = Seq(
        "heavyhitters" -> (() =>
          TextAnalysis.heavyHitters(df, "doc_id", "text").count()),
        "tfidf" -> (() =>
          TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 3).count()),
        "boilerplate" -> (() =>
          TextAnalysis.boilerplateShingles(df, "doc_id", "text").count()),
        // reference max_run so the count cannot prune the run-detection
        // join (left-outer against a unique key is cardinality-neutral
        // and would be eliminated under a bare count)
        "dupspans" -> (() =>
          TextAnalysis.duplicatedSpans(df, "doc_id", "text")
            .filter(col("max_run") >= 0).count()),
        "lmscore" -> (() =>
          TextAnalysis.bigramLmScore(df, "doc_id", "text").count()),
        // PMI's nonlinearity risk is the two unigram joins against the
        // bigram tail; replication multiplies every count by the factor
        // but the VOCAB stays ~constant, so time must track the corpus
        // scan, not the factor².
        "pmi" -> (() =>
          TextAnalysis.pmiCollocations(df, "text").count()),
        // RAKE's risks are the per-doc islands window and the word-stats
        // join over phrase members — both linear in the corpus; the
        // distinct-phrase aggregate is bounded by the phrase vocabulary.
        "keyphrase" -> (() =>
          TextAnalysis.rakeKeyphrases(df, "doc_id", "text").count()))
      textOps.foreach { case (name, f) =>
        f() // warm
        val (rows, sec) = time(f())
        println(f"PROBE x$factor $name docs=${nBase * factor} rows=$rows time=$sec%.2fs")
      }
      // Sweep prefix sum at xN intervals: one range exchange +
      // per-partition folds; driver state is P longs REGARDLESS of N,
      // so cost must track the interval count linearly. Superlinear
      // growth would mean a hidden single-partition stage (the exact
      // failure mode the operator exists to avoid).
      locally {
        val iv = df.select(col("doc_id").as("iid"),
            pmod(col("doc_id") * 37L, lit(1000000L)).as("s"),
            (pmod(col("doc_id") * 37L, lit(1000000L)) +
              pmod(length(col("text")).cast("long"), lit(1000L))).as("e"))
        val sweep = () => Sweep.concurrency(iv, "s", "e", "iid").count()
        sweep() // warm
        val (rows, sec) = time(sweep())
        println(f"PROBE x$factor sweep intervals=${nBase * factor} rows=$rows time=$sec%.2fs")
      }
      // Native WITH RECURSIVE (UnionLoop, the q_recursive_cte shape) at
      // xN ids: per-round work is bounded by the LIVE FRONTIER (node
      // strictly decreases), total ancestor rows ≈ N·log₈(N), and the
      // ROUND COUNT grows log₈(N) — +1 round per 8× data. PASS = time
      // tracks N ~linearly while rounds grow only logarithmically;
      // superlinear time (or rounds outpacing the log) would mean the
      // frontier join stopped shrinking. Discovered here and now
      // documented on the graded query: the engine GUARDRAILS recursion
      // at spark.sql.cteRecursionRowLimit = 1e6 total rows (loud
      // RECURSION_ROW_LIMIT_EXCEEDED, hit at x4 = ~1.85 M ancestor
      // rows) — a 100 TB run must raise it deliberately, which is the
      // right default for an operator whose failure mode is divergence.
      locally {
        val n = 100000L * factor
        spark.range(1L, n + 1).createOrReplaceTempView("rcte_probe_ids")
        val rec = () => {
          val r = spark.sql(
            """WITH RECURSIVE anc(id, node, depth) AS (
              |  SELECT id, id div 8, 1 FROM rcte_probe_ids
              |  WHERE id div 8 >= 1
              |  UNION ALL
              |  SELECT a.id, e.id div 8, a.depth + 1
              |  FROM anc a JOIN rcte_probe_ids e ON a.node = e.id
              |  WHERE e.id div 8 >= 1
              |)
              |SELECT count(*) AS n_rows, CAST(max(depth) AS BIGINT) AS rounds
              |FROM anc""".stripMargin).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        graft.queries.ParityQueries.withConf(spark,
            "spark.sql.cteRecursionRowLimit", "100000000") {
          rec() // warm
          val t0 = System.nanoTime()
          val (arows, rounds) = rec()
          val rsec = (System.nanoTime() - t0) / 1e9
          println(f"PROBE x$factor recursive_cte ids=$n anc_rows=$arows " +
            f"rounds=$rounds time=$rsec%.2fs")
        }
      }
      // PQ (ann_pq shape) at xN vectors: codebook size is FIXED (32
      // seeds), so encode cost must track the corpus linearly (explode
      // x16 subspaces, broadcast join, partial-agg argmin) and the ADC
      // scoring pass is a broadcast-LUT join + groupBy over codes —
      // also linear. Any superlinear growth here would mean the argmin
      // or scoring shuffle picked up a corpus-sized key.
      if (new java.io.File(s"$sfDir/embeddings.parquet").exists) {
        val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select("vec_id", "embedding")
        val embN = (0 until factor).map { i =>
          emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
            col("embedding"))
        }.reduce(_ unionByName _)
        val q = emb0.filter(col("vec_id") < 10)
        val nVecs = emb0.count() * factor
        val pq = () => Similarity.pqTopK(embN, q, 10).count()
        pq() // warm
        val (rows, sec) = time(pq())
        println(f"PROBE x$factor pq_adc vecs=$nVecs " +
          f"rows=$rows time=$sec%.2fs")
        // IVF+PQ composite at xN: centroid count is FIXED (16 cells), so
        // the min_by assignment is one linear pass with map-side combine,
        // and the ADC scoring only touches codes of the probed ~6/16 of
        // the corpus. Cost must stay linear (and below full-corpus ADC
        // at equal N); superlinear growth would mean the assignment or
        // candidate join picked up a corpus-sized sort/key.
        val ivfpq = () => Similarity.ivfPqTopK(embN, q, 10,
          numCells = 16, nProbe = 6).count()
        ivfpq() // warm
        val (rows2, sec2) = time(ivfpq())
        println(f"PROBE x$factor ivfpq vecs=$nVecs " +
          f"rows=$rows2 time=$sec2%.2fs")
        // Power iteration at xN vectors: each round is ONE corpus pass
        // (codegen dot against round literals) + a 64-group partial
        // aggregate, so cross-factor growth must track the corpus
        // linearly with a flat per-round constant — a superlinear jump
        // would mean the per-dimension aggregation picked up a
        // corpus-sized key or the checkpoint stopped holding.
        val pit = () => Similarity.powerIteration(embN, rounds = 3).count()
        pit() // warm
        val (rows3, sec3) = time(pit())
        println(f"PROBE x$factor power_iter vecs=$nVecs " +
          f"rows=$rows3 time=$sec3%.2fs")
      }
      // BPE trainer at xN: the per-round pair count runs over the
      // word-TYPE table, whose size is bounded by the vocabulary — the
      // copies share a vocabulary, so cost per merge round should stay
      // ~FLAT as the corpus grows (only the one-time word-count scan
      // tracks N). This is the whole scaling argument for training
      // tokenizers on 100 TB: vocab ≪ corpus.
      {
        val t0 = System.nanoTime()
        val merges = TextAnalysis.bpeTrain(df, "text", numMerges = 8)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"PROBE x$factor bpe_train docs=${nBase * factor} " +
          f"merges=${merges.size} time=$sec%.2fs")
      }
      // Connected components over the minhash pair graph: the iterative
      // operator's quadratic risk surface is the ROUND COUNT, not the
      // per-round join (each round is one shuffle over |pair-graph
      // nodes| rows). The replicated corpus makes components denser and
      // larger as the factor grows, so rounds staying O(log) here is
      // the direct evidence for the Dedup scaladoc's claim.
      val t0 = System.nanoTime()
      val (labels, rounds) =
        Dedup.connectedComponentsWithRounds(
          Dedup.minhashPairs(df, "doc_id", "text"))
      val comps = labels.select(col("component")).distinct().count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROBE x$factor components docs=${nBase * factor} " +
        f"components=$comps rounds=$rounds time=$sec%.2fs")
      // End-to-end curation pipeline (the graded pipeline_curation_v3
      // composite: exact dedup → minhash components → per-source
      // quantile quality gate → n-gram novelty gate) over the SAME
      // replicated corpus: every stage is individually probed above, so
      // cross-factor growth here should track the corpus + its pair
      // mass — a superlinear jump would mean the COMPOSITION introduced
      // a shape the stages don't have (e.g. a corpus-sized broadcast or
      // a re-derived all-pairs join).
      locally {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft-probe-cur-x$factor").toString
        df.withColumn("lang", lit("en"))
          .withColumn("source", concat(lit("src"), pmod(col("doc_id"), lit(7L))))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
        val cur = () =>
          graft.SparkEntry.queries("pipeline_curation_v3")(spark, tmp).count()
        cur() // warm
        val (rows, sec) = time(cur())
        println(f"PROBE x$factor curation_v3 docs=${nBase * factor} " +
          f"kept=$rows time=$sec%.2fs")
        // Iterative-graph probes over the SAME scaled corpus (ids → the
        // graded 3N-edge synthetic link graph / 40-block ring): BFS is
        // 8 frontier relaxations with a FIXED round count, so
        // cross-factor growth must track |E| per round; modularity is 3
        // label-prop rounds + |communities|-sized exact-integer algebra
        // whose formula stage is corpus-independent. Superlinear growth
        // would mean a round picked up a corpus-sized key or the
        // lineage cuts stopped holding.
        val bfs = () => graft.SparkEntry.queries("graph_bfs")(spark, tmp).count()
        bfs() // warm
        val (bfsRows, bfsSec) = time(bfs())
        println(f"PROBE x$factor graph_bfs nodes=${nBase * factor} " +
          f"reached=$bfsRows time=$bfsSec%.2fs")
        val mod = () =>
          graft.SparkEntry.queries("graph_modularity")(spark, tmp).count()
        mod() // warm
        val (modRows, modSec) = time(mod())
        println(f"PROBE x$factor graph_modularity nodes=${nBase * factor} " +
          f"communities=$modRows time=$modSec%.2fs")
        // k-truss at xN nodes: 3 support-count rounds, each Σdeg² in
        // wedge candidates over the 3N-edge graph + 40-node planted
        // block. Degrees are bounded by the generator (≤ ~6 bulk, ~16
        // planted), so wedge mass — and per-round cost — must track
        // |E| linearly across factors; superlinear growth would mean
        // the adjacency join picked up a hub or the survivor
        // checkpoints stopped holding.
        val truss = () =>
          graft.SparkEntry.queries("graph_ktruss")(spark, tmp).count()
        truss() // warm
        val (trussRows, trussSec) = time(truss())
        println(f"PROBE x$factor graph_ktruss nodes=${nBase * factor} " +
          f"edges_kept=$trussRows time=$trussSec%.2fs")
      }
      // Jaro–Winkler pair probe: TPC-H-shaped names over xN ids in 25
      // blocks. The sorted-chars deletion-neighborhood candidate join
      // must keep pair growth ~linear in the corpus (multiset-class
      // sizes are a property of the 9-digit id format, not of N) — the
      // nation-block² self-join this operator replaced grew pairs ~N².
      locally {
        val n = nBase * factor
        val cust = spark.range(n).select(col("id"),
          format_string("Customer#%09d", col("id")).as("nm"),
          pmod(col("id"), lit(25L)).as("nation"))
        val jw = () => Dedup.jaroWinklerPairs(cust, "id", "nm", "nation").count()
        jw() // warm
        val (pairs, sec) = time(jw())
        println(f"PROBE x$factor jaro names=$n pairs=$pairs time=$sec%.2fs")
      }
      // Graph operators over the xN synthetic link graph (N nodes,
      // 3N edges): label propagation is 3 fixed rounds of join +
      // packed-argmax aggregation (per-round cost linear in |E|), and
      // common-neighbor link prediction is the degree-capped wedge join
      // (pairs track Σ deg², bounded by the cap — never the node
      // count²). Superlinear growth in either would mean a round or
      // wedge stage picked up a corpus-sized key.
      locally {
        val n = nBase * factor
        val nodes = df.select(col("doc_id"))
        val edges = nodes
          .select(col("doc_id").as("src"),
            explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
          .select(col("src"), pmod(col("src") * 7 + col("k") * 13, lit(n)).as("dst"))
        val lp = () => Graph.labelPropagation(edges, iterations = 3).count()
        lp() // warm
        val (lpRows, lpSec) = time(lp())
        println(f"PROBE x$factor label_prop nodes=$lpRows time=$lpSec%.2fs")
        val cn = () => Graph.commonNeighbors(edges, degCap = 64).count()
        cn() // warm
        val (cnPairs, cnSec) = time(cn())
        println(f"PROBE x$factor link_pred nodes=$n pairs=$cnPairs time=$cnSec%.2fs")
        // HyperBall per-node (the graph_closeness shape): 3 rounds of
        // edge join + register max over (node, bucket) state that is
        // ≤ min(ball, 256) rows per node — cross-factor growth must
        // track rounds·|E|, the web-scale claim the operator makes.
        val hb = () => Graph.hyperBallPerNode(edges, rounds = 3).count()
        hb() // warm
        val (hbRows, hbSec) = time(hb())
        println(f"PROBE x$factor hyperball nodes=$n " +
          f"rows=$hbRows time=$hbSec%.2fs")
      }
      // Bitmap-index overlap (q_bitmap_overlap shape) at xN user ids:
      // word count tracks |distinct users|/62 linearly and the pair
      // join is |types|²-bounded per word — superlinear growth would
      // mean the bitmap groupBy or the word join picked up a
      // corpus-sized key.
      locally {
        val ev = df.select(pmod(col("doc_id"), lit(5L)).cast("string")
            .as("event_type"), col("doc_id").as("user_id"))
        val bm = () => {
          val b = ev.distinct()
            .select(col("event_type"), expr("user_id div 62").as("word"),
              expr("shiftleft(cast(1 as bigint)," +
                " cast(pmod(user_id, 62) as int))").as("bit"))
            .groupBy(col("event_type"), col("word"))
            .agg(expr("bit_or(bit)").as("bits"))
          b.select(col("event_type").as("ta"), col("word"), col("bits").as("ba"))
            .join(b.select(col("event_type").as("tb"), col("word"),
              col("bits").as("bb")), Seq("word"))
            .filter(col("ta") < col("tb"))
            .groupBy(col("ta"), col("tb"))
            .agg(sum(expr("bit_count(ba & bb)")).as("overlap"))
            .count()
        }
        bm() // warm
        val (bmPairs, bmSec) = time(bm())
        println(f"PROBE x$factor bitmap_overlap users=${nBase * factor} " +
          f"pairs=$bmPairs time=$bmSec%.2fs")
      }
      // Pointer-doubling hierarchy at xN: chain depth grows LINEARLY
      // with the id range (max depth ≈ N/7) but the round count only
      // log2 — 12/14/16 rounds at x1/x4/x16 — so wall time per node
      // should grow ~(rounds/12), not (depth/2142). This is the whole
      // argument for doubling over sequential recursion at 100 TB.
      locally {
        val n = nBase * factor
        val rounds = (math.log(n.toDouble / 7.0) / math.log(2.0)).ceil.toInt + 1
        val nodes = spark.range(n).select(col("id").as("nid"),
          when(col("id") - (pmod(col("id"), lit(7)) + 1) < 0,
            lit(null).cast("long"))
            .otherwise(col("id") - (pmod(col("id"), lit(7)) + 1)).as("parent"))
        val hd = () => Hierarchy.rootAndDepth(nodes, "nid", "parent", rounds)
          .agg(max(col("depth"))).collect()(0).getLong(0)
        hd() // warm
        val t0h = System.nanoTime()
        val maxDepth = hd()
        val secH = (System.nanoTime() - t0h) / 1e9
        println(f"PROBE x$factor hierarchy nodes=$n rounds=$rounds " +
          f"max_depth=$maxDepth time=$secH%.2fs")
      }
    }

    // ---- streaming state probes -------------------------------------
    // The scaling claim for the stateful streaming operators is NOT
    // "state grows slowly with the stream" — it is "state tracks the
    // WATERMARK HORIZON, not the stream length". Probe: replay streams
    // of 2/8/32 equal-volume time slices (slices 2h apart, 1h
    // watermark, so at most ~one slice is ever inside the horizon),
    // AvailableNow + maxFilesPerTrigger=1 so each slice is its own
    // micro-batch in event-time order, and record the state store's
    // peak rows/memory across batches from StreamingQueryProgress.
    // PASS = peak state stays ~flat as the stream grows 16×.
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    def stageSlices(nSlices: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-probe-stream-$nSlices").toString
      (0 until nSlices).foreach { i =>
        // sequential single-file writes => increasing mod-times, which
        // is the order FileStreamSource replays (latestFirst=false)
        base.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(lit(s"slice$i marker token "), col("text")).as("text"),
          (lit(i * 7200000L) + pmod(col("doc_id"), lit(1000L))).as("ts_ms"))
          .coalesce(1).write.mode("append").parquet(dir)
      }
      dir
    }
    def runStream(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                  dir: String): (Long, Long, Long, Int) = {
      val schema = spark.read.parquet(dir).schema
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-probe-ck").toString
      val q = build(in).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("noop").start()
      q.awaitTermination()
      var (peakRows, peakMem, outRows) = (0L, 0L, 0L)
      var batches = 0
      q.recentProgress.foreach { p =>
        batches += 1
        outRows += p.sink.numOutputRows
        p.stateOperators.foreach { so =>
          peakRows = peakRows max so.numRowsTotal
          peakMem = peakMem max so.memoryUsedBytes
        }
      }
      (peakRows, peakMem, outRows, batches)
    }
    Seq(1 -> 2, 4 -> 8, 16 -> 32).foreach { case (label, nSlices) =>
      val dir = stageSlices(nSlices)
      // custom flatMapGroupsWithState LSH banding: state = banded docs
      // inside the horizon, expired by EventTimeTimeout
      val (nr, nm, out, nb) = runStream(
        in => graft.streaming.Streaming.minhashNearDupStream(in).toDF(), dir)
      println(f"PROBE stream x$label neardup slices=$nSlices batches=$nb " +
        f"pairs=$out peak_state_rows=$nr peak_state_mb=${nm / 1e6}%.1f")
      // built-in dropDuplicatesWithinWatermark: state = distinct keys
      // inside the horizon
      val (dr, dm, dout, dnb) = runStream(
        in => graft.streaming.Streaming.dedupStream(
          in.withColumn("k", pmod(col("doc_id"), lit(2500L))),
          Seq("k"), watermark = "1 hour"), dir)
      println(f"PROBE stream x$label dedup slices=$nSlices batches=$dnb " +
        f"kept=$dout peak_state_rows=$dr peak_state_mb=${dm / 1e6}%.1f")
      // transformWithState per-key ValueState accumulator: the claim is
      // "state tracks the KEY UNIVERSE, not the stream length" — a
      // fixed-width snapshot per key, never the event list. Keys are
      // folded to a fixed 2500-id universe, so PASS = peak state rows
      // pinned at ~2500 while the stream grows 16×. (RocksDB provider:
      // transformWithState requires it.)
      graft.queries.ParityQueries.withConf(spark,
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider") {
        val (tr, tm, tout, tnb) = runStream(
          in => graft.streaming.Streaming.userAccumStream(
            in.select(pmod(col("doc_id"), lit(2500L)).as("user_id"),
              col("doc_id").as("event_id"),
              (pmod(col("doc_id"), lit(97L)) / lit(10.0)).as("value"))).toDF(),
          dir)
        println(f"PROBE stream x$label tws slices=$nSlices batches=$tnb " +
          f"snapshots=$tout peak_state_rows=$tr peak_state_mb=${tm / 1e6}%.1f")
      }
    }

    // BLOCK-SPLIT AVRO read at x1/x4/x16: ONE container file per
    // factor, FIXED 64 KiB split size — the reader parallelizes WITHIN
    // the single file, so the planned task count must grow with the
    // file while decode time stays ~linear (PASS = parts ∝ bytes, no
    // single-task collapse; the per-file binaryFile form would be
    // pinned at parts=1 here whatever the size).
    Seq(1, 4, 16).foreach { factor =>
      val rows = (1L to 20000L * factor).map(i =>
        (i, s"name-$i", i % 25, i * 7L))
      val d = java.nio.file.Files.createTempDirectory("graft-probe-avro").toFile
      graft.sources.AvroIngest.writeCustomerAvro(rows,
        new java.io.File(d, "all.avro"), syncIntervalBytes = 4096)
      val df = spark.read
        .format(classOf[graft.sources.AvroSplitProvider].getName)
        .option("path", d.getPath).option("splitBytes", 65536).load()
      val t0 = System.nanoTime()
      val n = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"PROBE avrosplit x$factor rows=$n " +
        f"parts=${df.rdd.getNumPartitions} " +
        f"file_mb=${new java.io.File(d, "all.avro").length() / 1e6}%.2f " +
        f"time=$secs%.2f s")
      // probe fixtures are MBs at x16 — clean up instead of leaking /tmp
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
    }

    // TIME-TRAVEL commit/read/CDC costs at x1/x4/x16 TABLE size with a
    // FIXED-size delta: the O(|delta|) claim is that upsert commit
    // BYTES stay ~FLAT as the table grows (only the delta is written —
    // commit TIME now includes the one change-type membership probe,
    // a stats-pruned key-column semi-join scan, the price of making
    // every downstream CDC read O(|range deltas|)); the merge-on-read
    // snapshot grows ~linearly with base+deltas (one max_by pass); and
    // changes() — the round-13 fix — must stay ~FLAT in table size (it
    // reads the range's delta files and nothing else). A commit that
    // rewrote the table would show commit bytes ∝ table; a CDC read
    // that probed a snapshot would show changes_s ∝ table — the two
    // failure signatures.
    Seq(1, 4, 16).foreach { factor =>
      val root = java.nio.file.Files.createTempDirectory("graft-probe-tt").toString
      val tbl = spark.range(100000L * factor).select(col("id").as("k"),
        (col("id") % 97).as("v"), concat(lit("seg"), col("id") % 7).as("seg"))
      graft.operators.TimeTravel.init(tbl, root, "k")
      val delta = spark.range(5000L).select((col("id") * 13).as("k"),
        lit(-1L).as("v"), lit("upd").as("seg"))
      val tc0 = System.nanoTime()
      val v = graft.operators.TimeTravel.upsert(root, delta)
      val commitSec = (System.nanoTime() - tc0) / 1e9
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          else f.length()
        walk(new java.io.File(p))
      }
      val deltaDir = new java.io.File(root).list()
        .find(_.startsWith(f"delta-$v%05d")).get
      val commitBytes = dirBytes(s"$root/$deltaDir")
      val tr0 = System.nanoTime()
      val n = graft.operators.TimeTravel.snapshot(spark, root, v, "k").count()
      val readSec = (System.nanoTime() - tr0) / 1e9
      val tch0 = System.nanoTime()
      val ch = graft.operators.TimeTravel.changes(spark, root, 0L, v, "k")
      val nCh = ch.count()
      val changesSec = (System.nanoTime() - tch0) / 1e9
      require(ch.inputFiles.nonEmpty && ch.inputFiles.forall(_.contains("/delta-")),
        "CDC read must touch delta files only")
      // bucketed compaction: a point lookup afterwards must read only
      // the bucket files that can hold its keys — cost ∝ one bucket
      // (table/buckets), never the base; files_read/files_total makes
      // the pruning machine-visible at every factor
      val vb = graft.operators.TimeTravel.compact(spark, root, "k", buckets = 8)
      val tp0 = System.nanoTime()
      val pt = graft.operators.TimeTravel.snapshotAt(spark, root, vb, "k",
        Seq(7L, 11L, 13L))
      val nPt = pt.count()
      val pointSec = (System.nanoTime() - tp0) / 1e9
      val ptFiles = pt.inputFiles.length
      val allFiles = graft.operators.TimeTravel
        .snapshot(spark, root, vb, "k").inputFiles.length
      require(nPt == 3 && ptFiles < allFiles,
        s"bucketed point lookup must prune: read $ptFiles of $allFiles")
      println(f"PROBE timetravel x$factor table=${100000L * factor} rows=$n " +
        f"commit_s=$commitSec%.2f commit_kb=${commitBytes / 1024} " +
        f"read_s=$readSec%.2f changes_rows=$nCh changes_s=$changesSec%.2f " +
        f"point_s=$pointSec%.2f point_files=$ptFiles/$allFiles")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
    spark.stop()
  }
}
