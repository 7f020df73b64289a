package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{CacheScope, Dedup, Multimodal, NearDup, Similarity, TextAnalysis}
import graft.streaming.StreamingOps

/** LLM-training-data pipeline registry (builder-prompt first-class
  * families): exact + near-duplicate dedup, similarity search,
  * text analysis, multimodal plumbing, and the Structured-Streaming
  * expression of the daily batch.
  *
  * Oracle notes: near-dup detectors are verified against EXACT
  * all-pairs shingle-Jaccard oracles (feasible at the sf0.01
  * correctness scale); LSH candidate generation is tuned so recall at
  * the threshold is indistinguishable from 1 (planted near-dup pairs
  * in the corpus sit at J >= 0.96; miss probability < 1e-12).
  * SimHash signatures are md5-derived so DuckDB recomputes them
  * bit-for-bit; only Murmur3/HLL-keyed outputs remain rows-only.
  */
object RegistryLlm {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  val defs: Map[String, Q] = Map(
    // Exact dedup on a corpus with planted exact duplicates (the corpus
    // unioned with an id-shifted copy of itself): keep min doc_id per
    // content fingerprint.
    "llm_exact_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      val dup = d.withColumn("doc_id", col("doc_id") + 10000)
      val u = d.unionByName(dup)
      Dedup.exactByContent(u, "doc_id", Seq("text", "lang"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // The daily-crawl incremental dedup loop: history fingerprints
    // persisted as a parquet store; a new batch (fresh docs + reposts
    // of history + intra-batch dups) keeps only rows absent from the
    // store after intra-batch min-id dedup. Anti-join on 16-byte
    // fingerprints — the batch-vs-corpus shape that scales.
    "llm_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      val hist = d.where(col("doc_id") < 250)
      val storePath = graft.sources.Ingest.fixtureDir(dir) + "/llm_fp_store"
      hist.select(Dedup.contentFingerprint(Seq("text", "lang")).as("fp"))
        .distinct().write.mode("overwrite").parquet(storePath)
      val newDocs = d.where(col("doc_id") >= 250)
      val reposts = hist.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 10000)
      val intra = newDocs.where(col("doc_id") % 11 === 3)
        .withColumn("doc_id", col("doc_id") + 20000)
      val batch = newDocs.unionByName(reposts).unionByName(intra)
      Dedup.newAgainstStore(batch, "doc_id", Seq("text", "lang"),
          s.read.parquet(storePath))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // Incremental NEAR-dup (the daily-crawl loop for fuzzy dups):
    // history MinHash signatures persisted as a flat banded store;
    // today's batch (fresh docs + perturbed reposts of history) probes
    // the store by (band, bkey) and exact-verifies candidates only.
    // Work is bucket collisions, never |batch|×|history|.
    "llm_incremental_neardup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val hist = d.where(col("doc_id") < 250)
      val storePath = graft.sources.Ingest.fixtureDir(dir) + "/llm_sig_store"
      NearDup.bandedSignatures(hist, "doc_id", "text", n = 2)
        .write.mode("overwrite").parquet(storePath)
      val reposts = hist.where(col("doc_id") % 10 === 1)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" repost marker")).as("text"))
      val batch = d.where(col("doc_id") >= 250).unionByName(reposts)
      NearDup.incrementalMinhashPairs(hist, batch, "doc_id", "text",
          n = 2, tau = 0.8, histBanded = s.read.parquet(storePath))
        .orderBy("batch_id", "hist_id")
    }),

    // Exact 4-gram-shingle Jaccard near-dup pairs via inverted index,
    // with the corpus-derived stop-shingle cap ARMED (maxDf auto):
    // bounds the Σ df² candidate join against a hot shingle while
    // leaving results at these SFs bit-identical (max observed df ≪
    // the cap's 64 floor).
    "llm_jaccard_pairs" -> ((s, dir) =>
      NearDup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 4, tau = 0.5,
          maxDf = -1)
        .orderBy("id_a", "id_b")),

    // Containment near-dup pairs on a corpus with PLANTED subset
    // duplicates (every 25th doc re-enters truncated to its first
    // half): the truncated copy's shingles are a subset of the
    // original's, so containment ~1 while Jaccard sits near 0.5 —
    // below the Jaccard detector's tau. This is the "document pasted
    // inside another" case every crawl dedup needs and pure Jaccard
    // misses. Same inverted-index + auto stop-shingle machinery as
    // llm_jaccard_pairs.
    "llm_containment_pairs" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      // token-boundary truncation: the copy keeps the first HALF of
      // the token stream, so its shingle set is a strict subset of
      // the original's (a char-level cut would corrupt the boundary
      // token and leak containment below tau on short docs)
      val truncated = d.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          array_join(slice(graft.functions.TextFns.tokens(col("text")),
            lit(1), greatest(
              floor(size(graft.functions.TextFns.tokens(col("text"))) / 2)
                .cast("int"), lit(1))), " ").as("text"))
      NearDup.containmentPairs(d.unionByName(truncated), "doc_id", "text",
          n = 4, tau = 0.9, maxDf = -1)
        .orderBy("id_a", "id_b")
    }),

    // BPE pair statistics — the inner loop of byte-pair-encoding
    // tokenizer TRAINING: adjacent character-pair counts weighted by
    // word frequency (the statistic a merge step maximizes). Word
    // counts aggregate first (vocab-sized, tiny), so the char-pair
    // explosion runs over DISTINCT words — corpus token volume never
    // re-explodes. Expression-only pair generation (transform over a
    // sequence), two map-side-combinable shuffles.
    "llm_bpe_pair_stats" -> ((s, dir) => {
      val words = Tables.scaled(docs(s, dir))
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .where(length(col("w")) >= 2)
      words
        .select(col("wc"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wc").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // BPE-ish PRE-tokenization as rows: the classic letters/digits/
    // punctuation segmentation regex (the step before BPE merges),
    // exploded and ranked — vocabulary-building's first pass.
    // Expression-only segmentation (regexp_extract_all, codegen'd);
    // one count shuffle; top-k via TakeOrdered.
    "llm_bpeish_pretokenize" -> ((s, dir) =>
      Tables.scaled(docs(s, dir))
        .select(explode(graft.functions.TextFns.bpeishPieces(col("text"))).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("piece"))
        .limit(30)),

    // MinHash(64) + LSH(16 bands x 4 rows) candidates on bigram
    // shingles, exact-Jaccard verified at tau=0.8.
    "llm_minhash_pairs" -> ((s, dir) =>
      NearDup.minhashLshPairs(docs(s, dir), "doc_id", "text", n = 2, tau = 0.8)
        .orderBy("id_a", "id_b")),

    // Near-dup CLUSTERS: pair detections closed under transitivity
    // (connected components, min-id canonical per cluster) — the step
    // that turns pairwise output into an actionable keep/drop set.
    // Pair source is the scalable MinHash+LSH detector.
    "llm_dup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = NearDup.minhashLshPairs(d, "doc_id", "text", n = 2, tau = 0.8)
      graft.operators.Cluster.dupClusters(d, "doc_id", pairs, "id_a", "id_b")
        .orderBy("doc_id")
    }),

    // Cluster-aware KEEP-BEST dedup: the near-dup clusters (MinHash
    // LSH pairs closed under transitivity) each retain their
    // HIGHEST-QUALITY member instead of the min-id one — the policy
    // production corpora actually want (dedup should not keep the
    // worst copy). One row per cluster: representative, its quality,
    // member count. The per-cluster argmax is a struct-max AGGREGATE
    // (lexicographic (qs, -doc_id) — max quality, min id on ties),
    // not a window: map-side combinable, O(1) reduce state per
    // cluster, immune to the giant boilerplate cluster a per-cluster
    // sort would choke on at corpus scale.
    "llm_dedup_keep_best" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = NearDup.minhashLshPairs(d, "doc_id", "text", n = 2, tau = 0.8)
      val clusters = graft.operators.Cluster.dupClusters(d, "doc_id", pairs,
        "id_a", "id_b")
      val scored = d.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("qs"))
      clusters.join(scored, "doc_id")
        .groupBy("cluster_id")
        .agg(max(struct(col("qs"), (-col("doc_id")).as("neg_id"))).as("__best"),
          count(lit(1)).as("n_members"))
        .select(col("cluster_id"), (-col("__best.neg_id")).as("kept_doc_id"),
          col("__best.qs").as("kept_quality"), col("n_members"))
        .orderBy("cluster_id")
    }),

    // Edit-distance near-dup pairs (the fuzzy-match family): length-
    // band blocked, BANDED Levenshtein over normalized 64-char
    // prefixes — catches small in-place edits that Jaccard scores
    // leniently. The blocking is lossless for the |Δlen| <= 50 filter
    // (bucket width 100), so the oracle's direct abs-filter
    // formulation finds the identical pair set without replicating
    // the bucket join. Short prefix + small cap is the scale
    // discipline: per-pair cost is O(64·8) with early exit.
    "llm_fuzzy_pairs" -> ((s, dir) =>
      graft.operators.NearDup.fuzzyPairs(docs(s, dir), "doc_id", "text",
          "lang", "n_chars", maxDist = 8)
        .orderBy("id_a", "id_b")),

    // SimHash Hamming<=3 pairs. The signature hash is md5-derived, so
    // the DuckDB oracle recomputes it exactly (hash-checked, not
    // rows-only).
    "llm_simhash_pairs" -> ((s, dir) =>
      NearDup.simhashPairs(docs(s, dir), "doc_id", "text", maxHd = 3)
        .orderBy("id_a", "id_b")),

    // PII redaction over a corpus with deterministically planted PII
    // (the synthetic docs carry none): emails/phones/URLs/IPs masked
    // by the engine-portable regex chain, with per-kind counts
    // recovered from the redaction tokens. Varying plant conditions
    // (mod 3/2/5) keep every count column non-constant.
    "llm_pii_redact" -> ((s, dir) => {
      val k = col("doc_id")
      val enriched = concat(
        expr("substring(text, 1, 40)"), lit(" contact "),
        when(k % 3 =!= 0,
          concat(lit("u"), k.cast("string"), lit("@mail.example.com "))).otherwise(lit("")),
        when(k % 2 === 0,
          concat(lit("call +1-555-0"), (k % 100).cast("string"), lit(" "))).otherwise(lit("")),
        when(k % 5 =!= 1,
          concat(lit("visit https://ex.example/p/"), k.cast("string"), lit(" "))).otherwise(lit("")),
        lit("from 10.0."), (k % 256).cast("string"), lit(".7"))
      def cnt(tok: String, as: String) =
        expr(s"cast((length(redacted) - length(replace(redacted, '$tok', ''))) div ${tok.length} as int)").as(as)
      docs(s, dir)
        .select(k, TextAnalysis.redactPii(enriched).as("redacted"))
        .select(k, col("redacted"),
          cnt("<EMAIL>", "n_emails"), cnt("<URL>", "n_urls"),
          cnt("<PHONE>", "n_phones"), cnt("<IP>", "n_ips"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: the eval set is verbatim spans
    // lifted from selected corpus docs (how contamination actually
    // happens); docs sharing >= 3 distinct 5-grams with the eval
    // n-gram set are flagged. Eval n-grams broadcast — the corpus
    // side never shuffles for the probe.
    "llm_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val evalNgrams = d.where(col("doc_id") % 83 === 7)
        .select(explode(graft.functions.TextFns.shingles(
          expr("substring(text, 21, 400)"), 5)).as("s"))
      TextAnalysis.contaminationFlags(d, "doc_id", "text", evalNgrams,
          n = 5, minOverlap = 3)
        .orderBy("doc_id")
    }),

    // Per-label embedding centroids — the k-means/IVF training step,
    // map-side-combinable integer-unit sums, exact half-away mean.
    "llm_label_centroids" -> ((s, dir) =>
      Similarity.groupCentroids(embs(s, dir), "label", "embedding")
        .orderBy("label", "dim")),

    // Corpus datasheet: docs and token totals per (split, language) —
    // the dataset-card aggregate every released corpus ships with,
    // composing the stable split with token counting in one pass.
    "llm_corpus_datasheet" -> ((s, dir) =>
      docs(s, dir)
        .select(col("lang"),
          TextAnalysis.stableSplit(col("doc_id")).as("split"),
          size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("__nt"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("__nt").as("n_tokens"))
        .orderBy("split", "lang")),

    // GPT-style sequence packing: docs assigned to 256-token packs by
    // start offset under concatenation, packed per 100-id shard.
    "llm_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
          budget = 256, shardSize = 100)
        .orderBy("doc_id")),

    // Composite C4-style quality filter: length, heuristic quality
    // score, and repetition signals composed into a keep/drop verdict
    // with the FIRST failing rule as the reason — the filter pipeline
    // a corpus actually runs, exercising operator composition.
    "llm_quality_filter" -> ((s, dir) => {
      val d = docs(s, dir)
      val base = Tables.scaled(d).select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("__nt"),
        TextAnalysis.qualityScore(col("text")).as("__q"))
      base.join(TextAnalysis.repetitionStats(d, "doc_id", "text"), "doc_id")
        .select(col("doc_id"),
          expr("""CASE WHEN __nt < 30 THEN 'too_short'
                       WHEN __q < 0.5 THEN 'low_quality'
                       WHEN dup_trigram_ratio > 0.02 THEN 'repetitive'
                       WHEN top_token_ratio > 0.15 THEN 'top_token_dominant'
                       ELSE 'keep' END""").as("reason"))
        .withColumn("keep", col("reason") === "keep")
        .orderBy("doc_id")
    }),

    // Within-doc repetition quality signals (Gopher/C4 rules):
    // duplicate-trigram fraction + top-token share.
    "llm_repetition_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Context-window chunking: every doc split into consecutive
    // 60-token chunks, order carried by explicit chunk_idx.
    "llm_chunk_documents" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text", chunkSize = 60)
        .orderBy("doc_id", "chunk_idx")),

    // C4-style paragraph-level exact dedup: one global winner per
    // distinct 3-token paragraph (min (doc, position) wins),
    // documents reassembled from their surviving paragraphs — the
    // sub-document dedup granularity whole-doc fingerprints can't
    // express. 3-token paragraphs make natural cross-doc collisions
    // at this corpus size; the md5 of each reassembled doc is
    // hash-compared against the oracle's reconstruction.
    "llm_paragraph_dedup" -> ((s, dir) =>
      TextAnalysis.paragraphDedup(docs(s, dir), "doc_id", "text", chunkSize = 3)
        .orderBy("doc_id")),

    // Deterministic mixture sampling: per-language keep rates applied
    // via the stable md5 bucket — pure projection, no shuffle, no
    // sample() nondeterminism. Output is the kept docs plus the
    // post-sampling language mix for audit.
    "llm_mixture_sample" -> ((s, dir) => {
      val kept = TextAnalysis.mixtureSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 1.0, "zh" -> 0.5, "es" -> 0.5, "de" -> 0.25, "fr" -> 0.1))
      kept.groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc_id"),
          max("doc_id").as("max_doc_id"))
        .orderBy("lang")
    }),

    // Growth-stable train/val/test split: md5-bucket assignment that
    // never reassigns existing docs when the corpus grows.
    "llm_train_val_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.stableSplit(col("doc_id")).as("split"))
        .orderBy("doc_id")),

    // Corpus bigram LM counts — the n-gram language-model build:
    // every bigram OCCURRENCE (not distinct-per-doc) counted, plus
    // the prefix total so P(w2|w1) = n_bigram/n_prefix is exact
    // integer arithmetic downstream. Two map-side-combinable
    // aggregates over one token-pair shuffle; the prefix table joins
    // back (broadcast-sized: |vocab|).
    "llm_bigram_lm" -> ((s, dir) => {
      val c = Tables.scaled(docs(s, dir))
        .select(explode(graft.functions.TextFns.ngrams(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_bigram"))
        .withColumn("prefix", element_at(split(col("bigram"), " "), 1))
      val p = c.groupBy("prefix").agg(sum("n_bigram").as("n_prefix"))
      c.join(p, "prefix")
        .where(col("n_bigram") >= 3)
        .select("bigram", "n_bigram", "n_prefix")
        .orderBy("bigram")
    }),

    // Bigram-LM negative-log-likelihood scoring (the CCNet/KenLM
    // perplexity-filter recipe, self-trained on the corpus): each
    // occurrence scores -ln P(w2|w1) with P = n_bigram/n_prefix from
    // exact integer counts; per-bigram NLL is rounded into integer
    // MICRO-units before the per-doc sum, so the sum is exact long
    // arithmetic — engine-portable where a raw double sum would be
    // merge-order nondeterministic. The LM (|distinct bigrams|) is
    // broadcast here; at 100 TB vocab it degrades gracefully to a
    // shuffle hash join on the bigram key — still one join, and the
    // occurrence side never re-shuffles for the prefix totals
    // (they ride in on the broadcast).
    "llm_bigram_perplexity" -> ((s, dir) => {
      // generation-scoped cache: re-invocation frees the previous one
      val occ = CacheScope.scoped1("llm_bigram_perplexity")(
        Tables.scaled(docs(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.TextFns.ngrams(col("text"), 2)).as("bigram")))
      val lm = occ.groupBy("bigram").agg(count(lit(1)).as("nb"))
        .withColumn("prefix", element_at(split(col("bigram"), " "), 1))
      val pref = lm.groupBy("prefix").agg(sum("nb").as("np"))
      occ.join(broadcast(lm.select("bigram", "nb", "prefix")), "bigram")
        .join(broadcast(pref), "prefix")
        .withColumn("__nll",
          round(log(col("np").cast("double") / col("nb")) * 1000000, 0)
            .cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("__nll").as("nll_micro"))
        .orderBy("doc_id")
    }),

    // Deterministic training-shard assignment: the pre-training
    // "global shuffle + shard" step. Order comes from the md5 of the
    // id (growth-stable, seedless, engine-reproducible — the same
    // discipline as llm_train_val_split), shards from the shared
    // md5 bucket; within-shard position is a row_number over the hash
    // order. One exchange on the shard key; no global sort.
    "llm_shuffle_shards" -> ((s, dir) => {
      val hx = md5(col("doc_id").cast("string"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("shard").orderBy("__hx", "doc_id")
      docs(s, dir)
        .select(col("doc_id"), hx.as("__hx"),
          (TextAnalysis.stableBucket(col("doc_id")) % 8).as("shard"))
        .withColumn("pos", row_number().over(w))
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),

    // Language ID via stopword-profile intersection scoring.
    "llm_lang_id" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), col("lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // Heuristic quality score (length/punct/stopword ratios).
    "llm_quality_score" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id")),

    // Token statistics (whitespace + BPE-ish regex counting).
    "llm_token_stats" -> ((s, dir) =>
      TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Model INFERENCE as a relational expression: a fastText-style
    // linear quality classifier applied with the hashing trick —
    // every token hashes (md5, engine-recomputable like the SimHash
    // signature) to an integer weight in [-1000, 1000], the document
    // score is the plain sum over token OCCURRENCES, the verdict is
    // its sign. The whole thing is one higher-order array fold
    // (transform + aggregate) inside the scan stage: per-row, fully
    // codegen'd, ZERO shuffle — at 100 TB classifier scoring streams
    // through the corpus at scan speed, which is exactly how
    // production quality filters (CCNet, Gopher) run. Integer
    // weights keep the score exact, so the oracle hash-matches.
    "llm_classifier_score" -> ((s, dir) => {
      def weight(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        conv(substring(md5(t), 1, 8), 16, 10).cast("long") % 2001L - 1000L
      docs(s, dir).select(col("doc_id"),
          aggregate(graft.functions.TextFns.tokens(col("text")),
            lit(0L), (acc, t) => acc + weight(t)).as("score_units"))
        .withColumn("keep", col("score_units") > 0)
        .orderBy("doc_id")
    }),

    // Custom typed Aggregator: bounded-heap top-3 events by value per
    // user — O(k) state, map-side combinable; oracle is the window
    // formulation it replaces at scale.
    "w3_topk_aggregator" -> ((s, dir) => {
      val topk = udaf(new graft.functions.TopKAggregator(3),
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong))
      Tables.load(s, dir, "events")
        // the non-nullable tuple encoder cannot decode NULL scores;
        // oracle filters identically
        .where(col("value").isNotNull)
        .groupBy("user_id")
        .agg(topk(col("value"), col("event_id")).as("top"))
        .select(col("user_id"), posexplode(col("top")).as(Seq("pos", "entry")))
        .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
          col("entry._2").as("event_id"), col("entry._1").as("value"))
        .orderBy("user_id", "rank")
    }),

    // The same typed Aggregator surfaced through the SQL registry
    // (spark.udf.register + udaf): a dbt/Thrift/Superset user calls
    // graft_topk(value, id) in plain SQL and gets the bounded-heap
    // map-side-combinable aggregate — the custom-AGGREGATE face of
    // the SQL extension story next to sql_graft_dot's scalar
    // expression. Same oracle shape as the Scala-API witness.
    "sql_topk_udaf" -> ((s, dir) => {
      s.udf.register("graft_topk",
        udaf(new graft.functions.TopKAggregator(3),
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaDouble,
            org.apache.spark.sql.Encoders.scalaLong)))
      Tables.registerViews(s, dir)
      s.sql("""
        SELECT user_id, cast(pos + 1 AS INT) AS rank,
               entry._2 AS event_id, entry._1 AS value
        FROM (SELECT user_id, graft_topk(value, event_id) AS top
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id)
        LATERAL VIEW posexplode(top) AS pos, entry
        ORDER BY user_id, rank""")
    }),

    // Exact quality-score percentile thresholds per language — the
    // quality-cutoff selection step of a filtering pipeline. Computed
    // over integer micro-units so type-7 interpolation is exact dyadic
    // arithmetic in both engines (bit-identical without rounding).
    "llm_quality_percentiles" -> ((s, dir) => {
      val units = (TextAnalysis.qualityScore(col("text")).cast("decimal(18,6)") *
        1000000).cast("long")
      docs(s, dir)
        .select(col("lang"), units.as("__u"))
        .groupBy("lang")
        .agg(
          expr("percentile(__u, 0.25)").as("__p25"),
          expr("percentile(__u, 0.5)").as("__p50"),
          expr("percentile(__u, 0.75)").as("__p75"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"),
          (col("__p25") / 1000000.0).as("p25"),
          (col("__p50") / 1000000.0).as("p50"),
          (col("__p75") / 1000000.0).as("p75"),
          col("n_docs"))
        .orderBy("lang")
    }),

    // Quantile-BUCKET assignment (quality quartiles): cutoffs are ONE
    // tiny aggregate row broadcast back over the corpus — never a
    // global ntile() sort, which would funnel 100 TB through one
    // partition. Scores compare in integer micro-units so the bucket
    // boundaries are engine-exact.
    "llm_quality_buckets" -> ((s, dir) => {
      val units = (TextAnalysis.qualityScore(col("text")).cast("decimal(18,6)") *
        1000000).cast("long")
      val scored = docs(s, dir).select(col("doc_id"), units.as("__u"))
      val cuts = scored.agg(
        expr("percentile(__u, 0.25)").as("__c1"),
        expr("percentile(__u, 0.5)").as("__c2"),
        expr("percentile(__u, 0.75)").as("__c3"))
      scored.crossJoin(broadcast(cuts))
        .select(col("doc_id"),
          (when(col("__u") > col("__c1"), 1).otherwise(0) +
            when(col("__u") > col("__c2"), 1).otherwise(0) +
            when(col("__u") > col("__c3"), 1).otherwise(0)).as("bucket"))
        .orderBy("doc_id")
    }),

    // URL-canonicalization dedup (the C4/CommonCrawl recipe): strip
    // tracking query params, lowercase the host, keep the minimum
    // doc_id per canonical URL. URLs are synthesized deterministically
    // from the corpus (mixed-case hosts, utm params, path collisions
    // via mod) so the parse is exercised end-to-end; parsing uses the
    // codegen'd `parse_url` builtin — no UDF — and the dedup is one
    // hash shuffle on the canonical string, scale-linear like
    // llm_exact_dedup.
    "llm_url_normalize_dedup" -> ((s, dir) => {
      val url = concat(
        lit("https://"),
        when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
        lit(".example.com/docs/"),
        (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed")).otherwise(lit("")))
      docs(s, dir)
        .select(col("doc_id"), url.as("url"))
        .withColumn("canonical_url",
          concat(lit("https://"),
            lower(expr("parse_url(url, 'HOST')")),
            expr("parse_url(url, 'PATH')")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_raw_variants"),
          min(col("doc_id")).as("kept_doc_id"))
        .orderBy("canonical_url")
    }),

    // Domain-level curation stats (the CommonCrawl per-domain gate:
    // filter whole registered domains by blocklist + aggregate
    // quality before touching individual documents). URLs are
    // synthesized deterministically (subdomain × 12 registered
    // domains, mixed-case hosts on doc_id % 5); the host comes out of
    // the codegen'd parse_url, the registered domain is the last two
    // host labels, the blocklist is a broadcast anti-join (never a
    // shuffle of the corpus against a 2-row table), and per-domain
    // quality averages exact micro-units. At 100 TB this is ONE
    // corpus shuffle on the domain key — the standard domain-reputation
    // pass before document-level filtering.
    "llm_domain_stats" -> ((s, dir) => {
      import s.implicits._
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (col("doc_id") % 3 + 1).cast("int"))
      val host = concat(col("source"), lit(".ex"),
        (col("doc_id") % 4).cast("string"), lit("."), tld)
      val rawHost = when(col("doc_id") % 5 === 0, upper(host)).otherwise(host)
      val url = concat(lit("https://"), rawHost, lit("/p/"),
        (col("doc_id") % 25).cast("string"))
      val qUnits = (TextAnalysis.qualityScore(col("text"))
        .cast("decimal(18,6)") * 1000000).cast("long")
      val d = docs(s, dir)
        .select(col("doc_id"), url.as("url"), qUnits.as("__q"))
        .withColumn("host", lower(expr("parse_url(url, 'HOST')")))
        .withColumn("domain",
          concat_ws(".", slice(split(col("host"), "\\."), -2, 2)))
        .withColumn("path", expr("parse_url(url, 'PATH')"))
      val blocked = Seq("ex0.com", "ex1.org").toDF("domain")
      d.join(broadcast(blocked), Seq("domain"), "left_anti")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("path")).as("n_paths"),
          (sum(col("__q")).cast("double") / count(lit(1)) / 1000000.0)
            .as("avg_quality"))
        .orderBy("domain")
    }),

    // Vocabulary coverage / OOV-rate analysis: a fixed top-K vocab is
    // built from the TRAIN split only (md5-stable assignment — the
    // same doc never flips sides on rerun), then the held-out split's
    // token stream is scored against it. The vocab is top-K over
    // token TYPES (bounded — 31 types in this corpus, ~100k-1M for a
    // real one), picked via TakeOrdered with a total tie-break
    // (count desc, token asc), and broadcast to the eval-side join:
    // the corpus-sized token stream shuffles once (per-doc regroup),
    // never against the vocab. Per-doc OOV rates use the exact
    // half-up integer ppm so both engines agree bit-for-bit.
    "llm_vocab_oov" -> ((s, dir) => {
      val norm = split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.stableSplit(col("doc_id")).as("__split"),
        explode(norm).as("tok"))
      val vocab = base.where(col("__split") === "train")
        .groupBy("tok").agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col("tok")).limit(20)
        .select(col("tok"), lit(1).as("__iv"))
      val perDoc = base.where(col("__split") =!= "train")
        .join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang", "doc_id")
        .agg(count(lit(1)).as("n_toks"),
          count(when(col("__iv").isNull, 1)).as("n_oov"))
        .withColumn("oov_ppm",
          expr("(2 * 1000000 * n_oov + n_toks) div (2 * n_toks)"))
      perDoc.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_oov")).as("n_oov_tokens"),
          (sum(col("oov_ppm")).cast("double") / count(lit(1)))
            .as("avg_doc_oov_ppm"),
          count(when(col("oov_ppm") > 300000, 1)).as("n_high_oov_docs"))
        .orderBy("lang")
    }),

    // Duplicated-span coverage (the exact-substring dedup signal):
    // position-level — unlike llm_ngram_novelty's distinct-type df —
    // so the output is the fraction of each document's TEXT that is
    // duplicated verbatim in some other document. See
    // [[TextAnalysis.dupSpanStats]] for the plan-shape argument.
    "llm_dup_span_stats" -> ((s, dir) =>
      TextAnalysis.dupSpanStats(docs(s, dir), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // The curation FUNNEL — the composition witness: raw crawl (with
    // planted exact dups) → exact dedup → quality gate → train split,
    // reported as per-stage survivor counts. Each stage is the
    // already-witnessed operator (Dedup.exactByContent, the
    // micro-unit quality score, the md5 stableSplit) chained on ONE
    // cached lineage — proving the operators compose without
    // re-reading the corpus per stage.
    "llm_curation_funnel" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      val raw = d.unionByName(d.withColumn("doc_id", col("doc_id") + 10000))
      val deduped = Dedup.exactByContent(raw, "doc_id", Seq("text", "lang"))
      val units = (TextAnalysis.qualityScore(col("text")).cast("decimal(18,6)") *
        1000000).cast("long")
      val quality = deduped.where(units >= 500000)
      // generation-scoped caches: re-invocation frees the previous ones
      CacheScope.scoped("llm_curation_funnel")(raw, deduped, quality)
      val train = quality.where(TextAnalysis.stableSplit(col("doc_id")) === "train")
      def stage(ord: Int, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n"))
          .select(lit(ord).as("ord"), lit(name).as("stage"), col("n"))
      stage(1, "raw", raw)
        .unionByName(stage(2, "exact_dedup", deduped))
        .unionByName(stage(3, "quality", quality))
        .unionByName(stage(4, "train_split", train))
        .orderBy("ord")
    }),

    // N-gram NOVELTY per document (memorization-risk / template
    // detection): the share of a doc's distinct trigram shingles that
    // appear in NO other document. One inverted-index pass (distinct
    // shingles per doc → corpus df), the df==1 count rides back on
    // the same posting rows — no second corpus scan. Ratio reported
    // in exact integer micro-units (integer division), no float sums.
    "llm_ngram_novelty" -> ((s, dir) => {
      // generation-scoped cache: re-invocation frees the previous one
      val occ = CacheScope.scoped1("llm_ngram_novelty")(
        Tables.scaled(docs(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.TextFns.shingles(col("text"), 3)).as("sh")))
      val dfq = occ.groupBy("sh").agg(count(lit(1)).as("__df"))
      occ.join(dfq, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("__df") === 1, 1)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 1000000) div n_shingles").as("novelty_micro"))
        .orderBy("doc_id")
    }),

    // Robust spread statistics per language: median absolute deviation
    // (MAD) — the outlier-resistant spread a quality-filter cutoff
    // should use instead of stddev on heavy-tailed score
    // distributions. Two exact percentile passes over integer
    // micro-units (same currency as llm_quality_percentiles); the
    // per-language medians broadcast back, never a second scan-wide
    // shuffle of raw scores.
    "llm_quality_mad" -> ((s, dir) => {
      val units = (TextAnalysis.qualityScore(col("text")).cast("decimal(18,6)") *
        1000000).cast("long")
      val scored = docs(s, dir).select(col("lang"), units.as("__u"))
      val med = scored.groupBy("lang").agg(expr("percentile(__u, 0.5)").as("__med"))
      scored.join(broadcast(med), "lang")
        .withColumn("__ad", abs(col("__u").cast("double") - col("__med")))
        .groupBy("lang")
        .agg((max(col("__med")) / 1000000.0).as("median_score"),
          (expr("percentile(__ad, 0.5)") / 1000000.0).as("mad_score"),
          count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // Class-rebalancing OVERSAMPLING: every language is replicated up
    // to the majority class's count — deterministic (replica index +
    // doc_id ordering, no RNG), expression-driven (explode of a
    // sequence sized by the per-class factor), capped exactly at the
    // target by a per-class row_number. The heavy row multiplication
    // happens AFTER the join with the (broadcast) class-count frame,
    // so the corpus shuffles once for the capping window and nothing
    // else.
    "llm_oversample_balance" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select("doc_id", "lang")
      val byLang = d.groupBy("lang").agg(count(lit(1)).as("__n"))
      val target = byLang.agg(max(col("__n")).as("__t"))
      val replicated = d.join(broadcast(byLang), "lang")
        .crossJoin(broadcast(target))
        .withColumn("__factor",
          ceil(col("__t").cast("double") / col("__n")).cast("int"))
        .withColumn("rep", explode(sequence(lit(1), col("__factor"))))
      val w = Window.partitionBy("lang").orderBy("rep", "doc_id")
      replicated.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= col("__t"))
        .groupBy("lang")
        .agg(max(col("__n")).as("n_orig"), count(lit(1)).as("n_after"),
          countDistinct(col("doc_id")).as("n_distinct"))
        .orderBy("lang")
    }),

    // Corpus token frequencies: explode (lateral view) + top-k LIMIT.
    "llm_token_frequencies" -> ((s, dir) =>
      Tables.scaled(docs(s, dir))
        .select(explode(graft.functions.TextFns.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),

    // TF-IDF top terms per document — one token shuffle feeds tf,
    // doc-length and document-frequency; corpus size is a collected
    // scalar (tiny aggregate, same shape as the watermark).
    "llm_tfidf_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // generation-scoped cache: re-invocation frees the previous one
      val toks = CacheScope.scoped1("llm_tfidf_top_terms")(
        Tables.scaled(docs(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.TextFns.tokens(col("text"))).as("term")))
      val nDocs = docs(s, dir).count()
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
      val len = toks.groupBy("doc_id").agg(count(lit(1)).as("__len"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      tf.join(len, "doc_id").join(broadcast(dfq), "term")
        .withColumn("tfidf",
          round((col("cnt").cast("double") / col("__len")) *
            log(lit(nDocs.toDouble) / col("__df")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("doc_id"), col("rank").cast("int").as("rank"),
          col("term"), col("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // BM25 full-text ranking (Okapi BM25, Lucene idf variant): score
    // every document holding at least one query term and return the
    // global top-20. The shape is the retrieval half of a RAG /
    // training-data search stack: one token shuffle (shared relation
    // with the tf-idf family), the query-term filter collapses the
    // fact side to ~|Q| rows per doc BEFORE the aggregate, df and
    // avgdl are driver scalars (|Q| rows / one avg), and the top-k is
    // TakeOrderedAndProject — never a global sort or single-partition
    // window, so the plan survives a corpus-sized scored set. The
    // per-doc score sums term contributions in FIXED written order
    // (per-term conditional aggregates, not sum-over-rows) so the
    // double arithmetic is bit-reproducible against the oracle.
    "llm_bm25_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = CacheScope.scoped1("llm_bm25_search")(
        Tables.scaled(docs(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.TextFns.tokens(col("text"))).as("term")))
      val scored = TextAnalysis
        .bm25Scores(toks, docs(s, dir).count(),
          Seq("spark", "vector", "stream"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20) // TakeOrderedAndProject: the scale-safe top-k
      scored.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    }),

    // PERSISTED BM25 index (r14 next-round #6 — the lexical twin of
    // llm_knn_ivf_persisted): postings (term, doc_id, tf), doc
    // lengths and corpus stats live as TxLog tables maintained
    // incrementally on ingest. The initial corpus commits them; a
    // later batch APPENDS O(batch tokens) via appendOnce (exactly-
    // once) — never a corpus re-tokenization (pinned: versions == 2
    // AND the second commit added exactly the batch's postings). The
    // query probes ONLY matching-term postings (term-banded files,
    // stats pruning pinned) + |Q| driver scalars; scoring delegates
    // to bm25ScoresFromTf — the same arithmetic as llm_bm25_search,
    // so the oracle is the full recomputation.
    "llm_bm25_persisted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.TxLog
      val fx = graft.sources.Ingest.fixtureDir(dir)
      val postBase = fx + "/bm25_postings"
      val lenBase = fx + "/bm25_doclen"
      val statsBase = fx + "/bm25_stats"
      Seq(postBase, lenBase, statsBase).foreach(TxLog.drop(s, _))
      val d = Tables.scaled(docs(s, dir))
      def toksOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
      def index(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
        // one tokenization per batch: tf and len share the cached
        // relation (the index build's only corpus-sized pass)
        val toks = toksOf(df).persist()
        try {
        val tf = toks.groupBy("term", "doc_id")
          .agg(count(lit(1)).as("tf"))
          .repartitionByRange(4, col("term")) // term-banded postings
        val ln = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
        // `lazy val`: the embedded df.count() is an eager action —
        // first forced inside the stats-commit thunk it overlaps the
        // sibling commits, and it runs once however often it is used
        lazy val st = ln.agg(count(lit(1)).as("len_rows"),
            sum(col("len")).as("len_sum"))
          .select(lit(batchId).as("batch"), col("len_rows"),
            col("len_sum"), lit(df.count()).as("docs"))
        // the three index tables are mutually independent: overlap
        // their tiny commits from driver threads (guide §2.6) instead
        // of paying three full plan+land+publish latencies in series
        if (batchId == 0L) graft.operators.Par.all(
          () => TxLog.commit(tf, postBase, None, Some("term")),
          () => TxLog.commit(ln, lenBase, None, Some("doc_id")),
          () => TxLog.commit(st, statsBase, None))
        else graft.operators.Par.all(
          () => TxLog.appendOnce(tf, postBase, appId = "bm25-indexer",
            batchId = batchId, statsCol = Some("term")),
          () => TxLog.appendOnce(ln, lenBase, appId = "bm25-indexer",
            batchId = batchId, statsCol = Some("doc_id")),
          () => TxLog.appendOnce(st, statsBase, appId = "bm25-indexer",
            batchId = batchId))
        } finally toks.unpersist()
      }
      index(d.where(col("doc_id") % 4 =!= 0), 0L)
      val v1pairs = TxLog.read(s, postBase).count()
      index(d.where(col("doc_id") % 4 === 0), 1L)
      require(TxLog.latestVersion(s, postBase).contains(2L) &&
        TxLog.latestVersion(s, lenBase).contains(2L),
        "a batch must APPEND to the index, not rebuild it")
      // ONE ±1-weighted aggregate proves the O(batch) append: Σ(+1
      // per post-append posting row, −1 per distinct batch pair) must
      // equal the pre-append count — the old spelling ran the postings
      // count and the batch distinct-count as two separate actions
      val delta = TxLog.read(s, postBase).select(lit(1L).as("__w"))
        .unionByName(toksOf(d.where(col("doc_id") % 4 === 0))
          .select("doc_id", "term").distinct().select(lit(-1L).as("__w")))
        .agg(sum(col("__w"))).head().getLong(0)
      require(delta == v1pairs,
        "index maintenance must cost O(batch tokens): the append " +
          "added exactly the batch's postings")
      // serving: per-term point ranges prune to the term's file band
      val terms = Seq("spark", "vector", "stream")
      val (kept, all) = TxLog.pruneRanges(s, postBase,
        Seq(("term", "spark", "spark")))
      require(kept.size < all.size,
        s"term-banded postings must prune (kept ${kept.size} of " +
          s"${all.size})")
      val slice = terms.map(t => TxLog.readRange(s, postBase, "term", t, t))
        .reduce(_ unionByName _)
      val tf = slice.select(col("doc_id"), col("term"),
        col("tf").as("__tf"))
      val dfMap = tf.groupBy("term").agg(count(lit(1)).as("__df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ln = TxLog.read(s, lenBase)
        .select(col("doc_id"), col("len").as("__len"))
      val st = TxLog.read(s, statsBase)
        .agg(sum(col("docs")).as("nd"), sum(col("len_rows")).as("lr"),
          sum(col("len_sum")).as("ls")).head()
      val nDocs = st.getLong(0)
      val avgdl = st.getLong(2).toDouble / st.getLong(1).toDouble
      val scored = graft.operators.TextAnalysis
        .bm25ScoresFromTf(tf, ln, nDocs, avgdl, dfMap, terms)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20)
      scored.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
        .select("rank", "doc_id", "score")
        .orderBy("rank")
    }),

    // Hybrid retrieval (the RAG-stack ranking shape): BM25 lexical
    // top-50 and embedding-cosine top-50 (to a fixed query vector)
    // fused by reciprocal-rank fusion — RRF(d) = Σ 1/(60+rank_i),
    // missing ranks contribute 0, the standard robust fusion that
    // needs no score normalization. Both legs are scale-shaped (one
    // token shuffle + driver scalars; broadcast query over the corpus
    // scan) and the fusion joins two 50-row lists — the expensive
    // halves never meet. Doubles fused in fixed written order.
    "llm_hybrid_search" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = CacheScope.scoped1("llm_hybrid_search")(
        Tables.scaled(docs(s, dir))
          .select(col("doc_id"),
            explode(graft.functions.TextFns.tokens(col("text"))).as("term")))
      val bm = TextAnalysis
        .bm25Scores(toks, docs(s, dir).count(),
          Seq("spark", "vector", "stream"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(50)
      val bmRanked = bm.withColumn("rank_bm", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select("doc_id", "rank_bm")
      val e = embs(s, dir)
      val cosRanked = Similarity
        .bruteForceTopK(e, e.where(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_cos"))
      bmRanked.join(cosRanked, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)), 6))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("int"))
        .select("rank", "doc_id", "rrf")
        .orderBy("rank")
    }),

    // PERSISTED hybrid retrieval (the full serving stack): BOTH legs
    // probe standing indexes — BM25 from the postings/doclen/stats
    // TxLog tables (per-term band reads, |Q| driver scalars, never a
    // corpus re-tokenization) and the embedding leg from the frozen
    // IVF centers + persisted assignment (zero assignment compute,
    // probed cells only) — then RRF-fuses two 50-row lists. This is
    // the query path a 100 TB RAG serving tier actually runs: the
    // corpus-sized work (tokenize, train, assign) happened at ingest;
    // a query touches term bands + probed cells + two tiny joins.
    // Incremental index MAINTENANCE is pinned by llm_bm25_persisted /
    // llm_knn_ivf_persisted; this witness pins the fused SERVING.
    "llm_hybrid_persisted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.operators.TxLog
      val fx = graft.sources.Ingest.fixtureDir(dir)
      val postBase = fx + "/hybp_postings"
      val lenBase = fx + "/hybp_doclen"
      val statsBase = fx + "/hybp_stats"
      val centersBase = fx + "/hybp_centers"
      val assignBase = fx + "/hybp_assign"
      Seq(postBase, lenBase, statsBase, centersBase, assignBase)
        .foreach(TxLog.drop(s, _))
      // ingest-time build (one batch each; incrementality pinned by
      // the two parent witnesses). One tokenization feeds all three
      // lexical tables.
      val d = Tables.scaled(docs(s, dir))
      val toks = d.select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("term"))
        .persist()
      val e = embs(s, dir)
      val centers0 = Similarity.groupCentroids(e, "label", "embedding")
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
          .as("sv"))
        .select(col("label").cast("long").as("seed_id"), col("sv"))
      // four independent tables (3 lexical + the quantizer): overlap
      // their commits from driver threads (guide §2.6); only the
      // assignment commit below depends on one of them (centers)
      try {
        val ln0 = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
        // `def`: the embedded d.count() action runs inside the
        // stats-commit thunk, overlapped with the sibling commits
        def st0 = ln0.agg(count(lit(1)).as("len_rows"),
            sum(col("len")).as("len_sum"))
          .select(lit(0L).as("batch"), col("len_rows"), col("len_sum"),
            lit(d.count()).as("docs"))
        graft.operators.Par.all(
          () => TxLog.commit(toks.groupBy("term", "doc_id")
              .agg(count(lit(1)).as("tf"))
              .repartitionByRange(4, col("term")),
            postBase, None, Some("term")),
          () => TxLog.commit(ln0, lenBase, None, Some("doc_id")),
          () => TxLog.commit(st0, statsBase, None),
          () => TxLog.commit(centers0, centersBase, None))
      } finally toks.unpersist()
      val frozen = TxLog.read(s, centersBase)
        .select(col("seed_id"), col("sv").as("__sv"))
      TxLog.commit(
        graft.operators.Ivf.assignTo(e, "vec_id", "embedding", frozen),
        assignBase, None, Some("vec_id"))
      // ---- serving ----
      val terms = Seq("spark", "vector", "stream")
      val (kept, all) = TxLog.pruneRanges(s, postBase,
        Seq(("term", "spark", "spark")))
      require(kept.size < all.size,
        "the BM25 leg must serve from pruned term bands")
      val slice = terms.map(t => TxLog.readRange(s, postBase, "term", t, t))
        .reduce(_ unionByName _)
      val tf = slice.select(col("doc_id"), col("term"),
        col("tf").as("__tf"))
      val dfMap = tf.groupBy("term").agg(count(lit(1)).as("__df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val ln = TxLog.read(s, lenBase)
        .select(col("doc_id"), col("len").as("__len"))
      val st = TxLog.read(s, statsBase)
        .agg(sum(col("docs")).as("nd"), sum(col("len_rows")).as("lr"),
          sum(col("len_sum")).as("ls")).head()
      val bmRanked = TextAnalysis
        .bm25ScoresFromTf(tf, ln, st.getLong(0),
          st.getLong(2).toDouble / st.getLong(1).toDouble, dfMap, terms)
        .orderBy(col("score").desc, col("doc_id").asc).limit(50)
        .withColumn("rank_bm", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
        .select("doc_id", "rank_bm")
      val cosRanked = graft.operators.Ivf.searchAssigned(e,
          e.where(col("vec_id") === 0), "vec_id", "embedding",
          frozen, TxLog.read(s, assignBase), nProbe = 2, k = 50)
        .select(col("neighbor_id").as("doc_id"),
          col("rank").as("rank_cos"))
      bmRanked.join(cosRanked, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("rank_bm")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)), 6))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("doc_id").asc)).cast("int"))
        .select("rank", "doc_id", "rrf")
        .orderBy("rank")
    }),

    // Rolling-hash + md5 document fingerprints.
    "llm_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Brute-force exact cosine top-5 for a deterministic query subset.
    "llm_knn_bruteforce" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // SQ8 scalar-quantized ANN (the Faiss/Milvus int8 recipe): each
    // vector compresses to 1-byte-per-dim codes (4× less scan
    // bandwidth than float32 — the lever that lets a 100 TB embedding
    // corpus serve kNN from commodity storage) and cosine runs on the
    // CODES with zero dequantization — per-vector scales cancel in
    // the ratio, so the whole search is exact small-integer
    // arithmetic, bit-reproducible by the oracle. floor(x/s + 0.5)
    // quantization (identical half-handling in every engine).
    "llm_knn_sq8" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.sq8TopK(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // IVF-style ANN: seeded coarse quantizer, probe 2 cells, exact
    // top-3 within them — candidate volume ~ nProbe·N/K per query.
    "llm_knn_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.operators.Ivf.search(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", seedEvery = 50, nProbe = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

    // Retrieval-quality evaluation — the eval harness every
    // training-data retrieval stack needs: recall@5, precision@5,
    // MRR@10, nDCG@5 against a label-equality relevance oracle, per
    // query. O(results) work (two broadcast label joins + one
    // aggregate), never a corpus pass; every metric rounds to 4dp so
    // engine FP-summation order and libm log2 ulps cannot leak into
    // the compare.
    "llm_retrieval_eval" -> ((s, dir) => {
      val e = embs(s, dir)
      val results = Similarity.bruteForceTopK(
          e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id", "rank")
      Similarity.retrievalEval(results, e.select("vec_id", "label"),
          "vec_id", "label", k = 5, mrrDepth = 10)
        .orderBy("query_id")
    }),

    // FILTERED ANN (r13 next-round #6 — the shape real training-data
    // retrieval takes: "nearest among language=vi AND quality>q").
    // The predicate pushes INTO the probed cells before scoring:
    // excluded vectors are never cosine-scored, candidate volume can
    // only shrink versus the unfiltered probe (IvfFilterSpec pins
    // that law), and the index itself stays unfiltered — one index
    // serves every predicate. Oracle: the same IVF pipeline in SQL
    // with the label filter applied to candidates before ranking.
    "llm_knn_filtered" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.operators.Ivf.searchFiltered(e,
          e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
          seedEvery = 50, nProbe = 2, k = 3,
          pred = col("label") % 3 === 0)
        .orderBy("query_id", "rank")
    }),

    // Filtered ANN over the PERSISTED index — the production serving
    // shape in full: the quantizer trained once and the assignment
    // committed at ingest (zero per-query assignment work), and the
    // metadata predicate pushes INTO the probed cells of that
    // standing index — excluded vectors never scored, candidate
    // volume only shrinks, ONE unfiltered index serves every
    // predicate. Composes llm_knn_ivf_persisted (standing index) with
    // llm_knn_filtered (predicate placement).
    "llm_knn_filtered_persisted" -> ((s, dir) => {
      import graft.operators.TxLog
      val e = embs(s, dir)
      val fx = graft.sources.Ingest.fixtureDir(dir)
      val centersBase = fx + "/ivff_centers"
      val assignBase = fx + "/ivff_assign"
      Seq(centersBase, assignBase).foreach(TxLog.drop(s, _))
      val centers0 = Similarity.groupCentroids(e, "label", "embedding")
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
          .as("sv"))
        .select(col("label").cast("long").as("seed_id"), col("sv"))
      TxLog.commit(centers0, centersBase, None)
      val frozen = TxLog.read(s, centersBase)
        .select(col("seed_id"), col("sv").as("__sv"))
      TxLog.commit(
        graft.operators.Ivf.assignTo(e, "vec_id", "embedding", frozen),
        assignBase, None, Some("vec_id"))
      graft.operators.Ivf.searchAssignedFiltered(e,
          e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
          frozen, TxLog.read(s, assignBase), nProbe = 2, k = 3,
          pred = col("label") % 3 === 0)
        .orderBy("query_id", "rank")
    }),

    // IVF × SQ8 (Faiss "IVF*,SQ8" — the production ANN layout): the
    // coarse quantizer probes in full precision (K-sized work, where
    // precision is cheap and recall-critical) while candidate scoring
    // inside the probed cells — the corpus-proportional term — runs
    // on int8 codes: 4× less candidate bandwidth, zero
    // dequantization. Both approximations are deterministic, so the
    // doubly-approximate path still has an exact oracle.
    "llm_knn_ivf_sq8" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.operators.Ivf.searchSq8(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", seedEvery = 50, nProbe = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

    // Two-stage retrieval (recall-then-rerank — how production
    // serving actually runs): the IVF×SQ8 probe shortlists 10
    // candidates per query on int8 codes (the corpus-proportional
    // term at 4× less bandwidth), then an EXACT full-precision
    // rerank orders the shortlist and returns top-3. Rerank cost is
    // O(queries × shortlist), independent of corpus size; both
    // stages deterministic, so the composed pipeline keeps an exact
    // oracle.
    "llm_knn_rerank" -> ((s, dir) => {
      val e = embs(s, dir)
      graft.operators.Ivf.searchSq8Rerank(e,
          e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
          seedEvery = 50, nProbe = 3, shortlist = 10, k = 3)
        .orderBy("query_id", "rank")
    }),

    // IVF with a TRAINED coarse quantizer: the per-label centroids
    // (exact integer-unit means, bit-deterministic) reassembled into
    // vectors and fed to the same broadcast-assign/probe machinery —
    // the full train→index→search ANN story, still oracle-checkable.
    "llm_knn_ivf_trained" -> ((s, dir) => {
      val e = embs(s, dir)
      val centers = Similarity.groupCentroids(e, "label", "embedding")
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
          .as("__sv"))
        .select(col("label").cast("long").as("seed_id"), col("__sv"))
      graft.operators.Ivf.searchWith(e, e.where(col("vec_id") % 50 === 0),
          "vec_id", "embedding", centers, nProbe = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

    // PERSISTED IVF index (VERDICT r11 next-round #5): the coarse
    // quantizer trains ONCE on the initial corpus and persists as two
    // TxLog tables — centers (frozen) and per-vector cell assignments.
    // A later embedding batch is assigned against the FROZEN centers
    // and appended to the assignment table (exactly-once, O(batch) —
    // never a corpus retrain/reassign); the probe then reads both
    // tables and pays zero assignment work. This is the serving shape
    // of a 100 TB embedding store: index maintenance rides ingest,
    // queries touch only probed cells. The requires pin "train once,
    // append without retrain" (1 centers version, 2 assignment
    // versions); the oracle recomputes centers from the initial slice
    // only and assigns the full corpus to them.
    "llm_knn_ivf_persisted" -> ((s, dir) => {
      val e = embs(s, dir)
      val fx = graft.sources.Ingest.fixtureDir(dir)
      val centersBase = fx + "/ivf_centers"
      val assignBase = fx + "/ivf_assign"
      graft.operators.TxLog.drop(s, centersBase)
      graft.operators.TxLog.drop(s, assignBase)
      val initial = e.where(col("vec_id") % 5 =!= 0)
      val newBatch = e.where(col("vec_id") % 5 === 0)
      // train once, on the initial corpus only
      val centers0 = Similarity.groupCentroids(initial, "label", "embedding")
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
          .as("sv"))
        .select(col("label").cast("long").as("seed_id"), col("sv"))
      graft.operators.TxLog.commit(centers0, centersBase, None)
      val frozen = graft.operators.TxLog.read(s, centersBase)
        .select(col("seed_id"), col("sv").as("__sv"))
      // index the initial corpus, then the NEW batch against the
      // frozen centers — two commits, no retrain, no reassign
      graft.operators.TxLog.commit(
        graft.operators.Ivf.assignTo(initial, "vec_id", "embedding", frozen),
        assignBase, None, Some("vec_id"))
      graft.operators.TxLog.appendOnce(
        graft.operators.Ivf.assignTo(newBatch, "vec_id", "embedding", frozen),
        assignBase, appId = "ivf-indexer", batchId = 1L,
        statsCol = Some("vec_id"))
      require(graft.operators.TxLog.latestVersion(s, centersBase).contains(1L),
        "the quantizer must train ONCE (one centers version)")
      require(graft.operators.TxLog.latestVersion(s, assignBase).contains(2L),
        "the new batch must APPEND to the index, not rebuild it")
      // probe from the persisted index: zero assignment work
      graft.operators.Ivf.searchAssigned(e,
          e.where(col("vec_id") % 50 === 0), "vec_id", "embedding",
          frozen, graft.operators.TxLog.read(s, assignBase), nProbe = 2, k = 3)
        .orderBy("query_id", "rank")
    }),

    // OPTIMIZE-for-ANN (VERDICT r12 next-round #5): the persisted
    // IVF index goes STALE when ingest moves the data under its
    // frozen quantizer — here the centers trained when only half the
    // label space existed, and the full corpus then crammed the
    // unseen labels into the nearest old cells. The maintenance verb
    // measures per-cell drift (member mean vs frozen center, exact
    // integer arithmetic) and retrains + reassigns ONLY drifted
    // cells' members — Σ|drifted|×K work, never corpus×K; both
    // tables take one O(drifted) merge commit. Output: the final
    // per-cell membership with the retrained flag; the oracle
    // recomputes the whole pipeline (train → assign → drift →
    // retrain → reassign) in SQL.
    "llm_knn_ivf_maintain" -> ((s, dir) => {
      val e = embs(s, dir)
      val fx = graft.sources.Ingest.fixtureDir(dir)
      val centersBase = fx + "/ivfm_centers"
      val assignBase = fx + "/ivfm_assign"
      graft.operators.TxLog.drop(s, centersBase)
      graft.operators.TxLog.drop(s, assignBase)
      val centers0 = Similarity.groupCentroids(
          e.where(col("label") < 5), "label", "embedding")
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(dim, centroid))), x -> x.centroid)")
          .as("sv"))
        .select(col("label").cast("long").as("seed_id"), col("sv"))
      graft.operators.TxLog.commit(centers0, centersBase, None)
      val frozen = graft.operators.TxLog.read(s, centersBase)
        .select(col("seed_id"), col("sv").as("__sv"))
      graft.operators.TxLog.commit(
        graft.operators.Ivf.assignTo(e, "vec_id", "embedding", frozen),
        assignBase, None, Some("vec_id"))
      val (cells, members) = graft.operators.Ivf.maintain(s, e,
        "vec_id", "embedding", centersBase, assignBase, maxDrift = 0.02)
      require(cells >= 1 && members >= 1,
        s"the stale-quantizer fixture must drift ($cells cells, " +
          s"$members members)")
      require(graft.operators.TxLog.latestVersion(s, centersBase)
        .contains(2L) &&
        graft.operators.TxLog.latestVersion(s, assignBase).contains(2L),
        "maintenance is ONE merge commit per table, not a rebuild")
      val retrained = graft.operators.TxLog
        .readVersion(s, centersBase, 1L)
        .select(col("seed_id"), col("sv").as("sv1"))
        .join(graft.operators.TxLog.read(s, centersBase)
          .select(col("seed_id"), col("sv").as("sv2")), "seed_id")
        .withColumn("retrained", col("sv1") =!= col("sv2"))
        .select(col("seed_id").as("cell"), col("retrained"))
      graft.operators.TxLog.read(s, assignBase)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .join(retrained, Seq("cell"), "right")
        .select(col("cell"), coalesce(col("n"), lit(0L)).as("n"),
          col("retrained"))
        .orderBy("cell")
    }),

    // Deterministic sign-LSH bucketed near-dup pairs, exact-cosine
    // verified — the scale path (no N² self-join).
    "llm_embedding_neardup" -> ((s, dir) =>
      Similarity.signLshPairs(embs(s, dir), "vec_id", "embedding",
          tau = 0.4, bands = 3, bitsPerBand = 8)
        .orderBy("id_a", "id_b")),

    // SemDeDup (arXiv:2303.09540): semantic dedup confined to
    // pre-assigned embedding clusters — pairwise cosine only WITHIN a
    // cluster (Σ|cluster|² work, one shuffle on the cluster key),
    // higher id of any pair >= tau dropped, survivors returned.
    "llm_semdedup" -> ((s, dir) =>
      Similarity.semanticDedup(embs(s, dir), "vec_id", "embedding",
          "label", tau = 0.4)
        .select("vec_id", "label")
        .orderBy("vec_id")),

    // Multimodal plumbing: binary payload + typed metadata, batched
    // per-partition stub decode (the mapInPandas analog).
    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
          Multimodal.attachMedia(docs(s, dir), "doc_id", "text"))
        .orderBy("media_id")),

    // REAL image decode (round-7 verdict stretch #8): genuine 24bpp
    // BMP blobs are encoded per customer key (Multimodal.encodeBmp),
    // then decoded by parsing the actual container — header walk, BGR
    // order, bottom-up rows, stride padding. Pixels are pure functions
    // of (id, x, y), so the DuckDB oracle recomputes the expected
    // channel statistics WITHOUT a BMP parser: any container-layout
    // bug in either codec half breaks the hash match.
    "multimodal_bmp_decode" -> ((s, dir) =>
      Multimodal.decodeBmpStats(
          Multimodal.bmpCorpus(Tables.load(s, dir, "customer"), "c_custkey"))
        .orderBy("media_id")),

    // Media ingest through Spark's native binaryFile source — the
    // idiom a 100 TB image/audio corpus actually lands with: one FILE
    // per blob on the shared FS, `spark.read.format("binaryFile")`
    // with pathGlobFilter, each file a (path, length, content) row,
    // partition-parallel with no driver-side byte handling
    // (spark.sql.files.maxPartitionBytes sizes the tasks). The blobs
    // are genuine BMPs written per customer key; the witness pins the
    // id parsed from the file NAME, the source-reported byte length
    // (recomputed by the oracle from the container arithmetic), and
    // the decoded pixel stats — so file landing, listing, and content
    // round-trip are all under the hash.
    "multimodal_binary_ingest" -> ((s, dir) => {
      val base = graft.sources.Ingest.fixtureDir(dir) + "/bmp_files"
      // overwrite-idempotent like every fixture writer: stale blobs
      // from an earlier naming scheme must not leak into the listing
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(basePath, true)
      Multimodal.bmpCorpus(Tables.load(s, dir, "customer"), "c_custkey")
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          val d = java.nio.file.Paths.get(base)
          java.nio.file.Files.createDirectories(d)
          it.foreach { r =>
            java.nio.file.Files.write(d.resolve(s"media-${r.getLong(0)}.bmp"),
              r.getAs[Array[Byte]](1))
          }
        }
      // ONE scan: the source-reported length (file metadata) rides
      // along with the content through a single decode pass
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp").load(base)
        .select(
          regexp_extract(col("path"), "media-(\\d+)\\.bmp$", 1)
            .cast("long").as("media_id"),
          col("length").as("n_bytes"),
          col("content").as("media"))
      Multimodal.decodeBmpStatsWithLength(media)
        .select("media_id", "n_bytes", "width", "height",
          "sum_r", "sum_g", "sum_b", "topright_r")
        .orderBy("media_id")
    }),

    // REAL frame-sample + resize (round-8 verdict #3 — the last
    // synthetic kernel made real): each payload is a genuine
    // multi-frame 24bpp BMP strip, every 3rd frame is decoded through
    // the actual container and nearest-neighbor-resized to 3x2; the
    // oracle recomputes the resized channel sums straight from the
    // generative pixel formulas, so container layout, frame slicing,
    // the resize source mapping AND bottom-up orientation are all
    // under the hash.
    "multimodal_frame_sample" -> ((s, dir) =>
      Multimodal.frameSampleBmp(
          Multimodal.videoCorpus(Tables.load(s, dir, "customer"), "c_custkey"),
          frameHeight = 4, sampleEvery = 3, outW = 3, outH = 2)
        .orderBy("media_id", "frame_idx")),

    // Structured Streaming (AvailableNow) daily tumbling-window
    // counts, through the PRODUCTION sink: executors write the
    // aggregate to parquet via foreachBatch, the result is a batch
    // read-back (memory sink demoted to tests).
    "stream_daily_counts" -> ((s, dir) =>
      StreamingOps.dailyEventCountsToFiles(s, dir)
        .orderBy("report_date", "event_type")),

    // Stateless streaming archival through the builtin APPEND-mode
    // parquet sink (correct for row streams — no aggregate state for
    // a watermark to hold back), verified by aggregating the
    // archived files.
    "stream_events_archive" -> ((s, dir) =>
      StreamingOps.archiveEvents(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")),

    // Exactly-once streaming ingest into the manifest-commit log:
    // foreachBatch → TxLog.appendOnce keyed by (appId, batchId), with
    // the restart-shaped redelivery of the final batch replayed and
    // pinned a no-op inside txnSinkIngest — at-least-once delivery
    // composed with an idempotent versioned sink is the 100 TB/day
    // exactly-once story. Oracle: each event counted exactly once.
    "stream_txn_sink" -> ((s, dir) =>
      StreamingOps.txnSinkIngest(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")),

    // Bounded-state streaming dedup (dropDuplicatesWithinWatermark):
    // planted at-least-once redelivery duplicates must vanish, so the
    // oracle is the ORIGINAL table's aggregate. State is bounded to
    // the watermark horizon — the 100 TB/day dedup shape.
    "stream_dropdup_watermark" -> ((s, dir) =>
      StreamingOps.dedupWithinWatermark(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")),

    // Stateful streaming dedup via mapGroupsWithState — O(1) state per
    // key; same W1 semantics as the batch window dedup, same oracle.
    "stream_stateful_dedup" -> ((s, dir) =>
      graft.streaming.StatefulDedup.latestPerUser(s, dir)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")),

    // SQL surface of the custom codegen expression: graft_dot
    // registered on the session function registry (the
    // SparkSessionExtensions path for driver-owned sessions).
    "sql_graft_dot" -> ((s, dir) => {
      org.apache.spark.sql.graftbridge.ColumnBridge.registerFunction(
        s, graft.GraftExtensions.dotFunction)
      Tables.registerViews(s, dir)
      s.sql("""SELECT vec_id,
                      round(graft_dot(CAST(embedding AS ARRAY<DOUBLE>),
                                      CAST(embedding AS ARRAY<DOUBLE>)), 4) AS norm_sq
               FROM embeddings ORDER BY vec_id""")
    }))

  /** DuckDB shingle-set CTE builders. */
  private def shingleCte(n: Int): String = {
    val concatExpr = (0 until n).map(i => s"ws[i+$i]").mkString(" || ' ' || ")
    s"""sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - ${n - 1}, 0) + 1),
                   i -> $concatExpr)) AS ts
          FROM (SELECT doc_id,
                       string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
                FROM documents))"""
  }

  /** Incremental near-dup oracle: exact ALL-PAIRS batch×history
    * Jaccard with the identical repost perturbation — the LSH store
    * probe's recall at tau=0.8 is indistinguishable from 1 (same
    * argument as the minhash oracle). */
  private def incNearDupOracle(n: Int, tau: Double): String = {
    val concatExpr = (0 until n).map(i => s"ws[i+$i]").mkString(" || ' ' || ")
    def shingled(src: String) =
      s"""SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - ${n - 1}, 0) + 1),
                   i -> $concatExpr)) AS ts
          FROM (SELECT doc_id,
                       string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
                FROM $src)"""
    s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
                  UNION ALL
                  SELECT doc_id + 30000, text || ' repost marker'
                  FROM documents WHERE doc_id < 250 AND doc_id % 10 = 1),
        sh_h AS (${shingled("hist")}),
        sh_b AS (${shingled("batch")}),
        p AS (SELECT b.doc_id AS batch_id, h.doc_id AS hist_id,
                     round(cast(len(list_intersect(b.ts, h.ts)) AS DOUBLE) /
                           (len(b.ts) + len(h.ts) - len(list_intersect(b.ts, h.ts))), 6)
                       AS jaccard
              FROM sh_b b CROSS JOIN sh_h h)
        SELECT batch_id, hist_id, jaccard FROM p WHERE jaccard >= $tau
        ORDER BY batch_id, hist_id"""
  }

  private def jaccardOracle(n: Int, tau: Double): String =
    s"""WITH ${shingleCte(n)},
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(cast(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
                       (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6)
                   AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= $tau
        ORDER BY id_a, id_b"""

  /** Jaccard oracle that MIRRORS [[NearDup.jaccardPairs]]' armed
    * stop-shingle cap (maxDf = -1 → cap = max(64, 2·⌈√N⌉)): shingles
    * with df > cap are dropped from the INTERSECTION side while the
    * denominators stay unfiltered — exactly the Spark semantics. The
    * unfiltered [[jaccardOracle]] would silently diverge the moment a
    * shingle's df exceeds the cap at a larger SF (ADVICE r3 medium).
    * `capSqlOverride` exists for tests that force a tiny cap. */
  private[queries] def jaccardOracleCapped(
      n: Int, tau: Double,
      capSqlOverride: String = ""): String = {
    val capSql =
      if (capSqlOverride.nonEmpty) capSqlOverride
      else "greatest(64, 2 * cast(ceil(sqrt(count(*))) AS BIGINT))"
    s"""WITH ${shingleCte(n)},
        posts AS (SELECT doc_id, unnest(ts) AS s FROM sh),
        hot AS (SELECT coalesce(list(s), []) AS hs
                FROM (SELECT s FROM posts GROUP BY s
                      HAVING count(*) > (SELECT $capSql FROM documents))),
        shf AS (SELECT doc_id, ts,
                       list_filter(ts, x -> NOT list_contains(hot.hs, x)) AS tsf
                FROM sh, hot),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 round(cast(len(list_intersect(a.tsf, b.tsf)) AS DOUBLE) /
                       (len(a.ts) + len(b.ts) - len(list_intersect(a.tsf, b.tsf))), 6)
                   AS jaccard
          FROM shf a JOIN shf b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= $tau
        ORDER BY id_a, id_b"""
  }

  /** DuckDB twin of [[NearDup.simhashPairs]]: same md5-derived
    * per-token 64-bit hash (hi/lo 32-bit halves), same weighted bit
    * sums, same signed 64-bit signature, hamming via bit_count(xor).
    * All-pairs here (no band blocking) — blocking is LOSSLESS for
    * hamming <= 3, so the exact answer is identical. */
  private def simhashOracle(maxHd: Int): String = {
    val bitSums = (0 until 64).map { b =>
      val bit = if (b < 32) s"((lo >> $b) & 1)" else s"((hi >> ${b - 32}) & 1)"
      s"sum(w * (2 * $bit - 1)) AS s$b"
    }.mkString(", ")
    val sigTerms = (0 until 64).map { b =>
      val v = if (b == 63) "(-9223372036854775807 - 1)" else (1L << b).toString
      s"CASE WHEN s$b > 0 THEN $v ELSE 0 END"
    }.mkString(" + ")
    s"""WITH toks AS (
          SELECT doc_id, t, count(*) AS w
          FROM (SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS t
                FROM documents)
          GROUP BY doc_id, t),
        h AS (SELECT doc_id, w,
                     ('0x' || substring(md5(t), 1, 8))::BIGINT AS hi,
                     ('0x' || substring(md5(t), 9, 8))::BIGINT AS lo
              FROM toks),
        bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, $sigTerms AS simhash FROM bits),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                         cast(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= $maxHd
        ORDER BY id_a, id_b"""
  }

  /** Shared component-closure CTE chain: exact Jaccard pairs (same
    * pair set as the minhash oracle) closed into connected components
    * by a recursive CTE (min reachable id per node). Yields CTE `cl`
    * = (doc_id, cluster_id) with singletons labeled by their own id.
    * Callers must prefix `WITH RECURSIVE`. */
  private def componentCtes(n: Int, tau: Double): String =
    s"""${shingleCte(n)},
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE round(cast(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
                      (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))), 6) >= $tau),
        edges AS (SELECT id_a AS src, id_b AS dst FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
        reach(node, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node),
        label AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
        cl AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN label l ON d.doc_id = l.node)"""

  private def dupClusterOracle(n: Int, tau: Double): String =
    s"""WITH RECURSIVE ${componentCtes(n, tau)}
        SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
        FROM cl ORDER BY doc_id"""

  /** Keep-best oracle: same components, joined to the quality score,
    * window-ranked (qs DESC, doc_id ASC) inside each cluster. */
  private def keepBestOracle(n: Int, tau: Double): String =
    s"""WITH RECURSIVE ${componentCtes(n, tau)},
        q AS (SELECT doc_id, $scoreSql AS qs FROM documents),
        m AS (SELECT cl.cluster_id, cl.doc_id, q.qs,
                     row_number() OVER (PARTITION BY cl.cluster_id
                       ORDER BY q.qs DESC, cl.doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY cl.cluster_id) AS nm
              FROM cl JOIN q ON cl.doc_id = q.doc_id)
        SELECT cluster_id, doc_id AS kept_doc_id, qs AS kept_quality,
               cast(nm AS BIGINT) AS n_members
        FROM m WHERE rn = 1 ORDER BY cluster_id"""

  /** PII-redaction oracle: identical planted text, identical regex
    * chain (RE2 ∩ Java syntax), identical token-count arithmetic. */
  private val piiRedactOracle: String = {
    def cnt(tok: String, as: String) =
      s"cast((length(redacted) - length(replace(redacted, '$tok', ''))) // ${tok.length} AS INTEGER) AS $as"
    s"""WITH e AS (
          SELECT doc_id,
                 substring(text, 1, 40) || ' contact ' ||
                 CASE WHEN doc_id % 3 <> 0
                      THEN 'u' || cast(doc_id AS VARCHAR) || '@mail.example.com '
                      ELSE '' END ||
                 CASE WHEN doc_id % 2 = 0
                      THEN 'call +1-555-0' || cast(doc_id % 100 AS VARCHAR) || ' '
                      ELSE '' END ||
                 CASE WHEN doc_id % 5 <> 1
                      THEN 'visit https://ex.example/p/' || cast(doc_id AS VARCHAR) || ' '
                      ELSE '' END ||
                 'from 10.0.' || cast(doc_id % 256 AS VARCHAR) || '.7' AS t
          FROM documents),
        r AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
                  'https?://[^ ]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g'),
                  '\\+?[0-9][0-9().-]{5,}[0-9]', '<PHONE>', 'g') AS redacted
              FROM e)
        SELECT doc_id, redacted,
               ${cnt("<EMAIL>", "n_emails")}, ${cnt("<URL>", "n_urls")},
               ${cnt("<PHONE>", "n_phones")}, ${cnt("<IP>", "n_ips")}
        FROM r ORDER BY doc_id"""
  }

  /** Decontamination oracle: same span-derived eval n-gram set, same
    * distinct-overlap count and threshold. */
  private def decontaminateOracle(n: Int, minOverlap: Int): String = {
    val concatExpr = (0 until n).map(i => s"ws[i+$i]").mkString(" || ' ' || ")
    def shingles = s"""list_distinct(list_transform(range(1, greatest(len(ws) - ${n - 1}, 0) + 1),
                   i -> $concatExpr))"""
    s"""WITH tr AS (
          SELECT doc_id, unnest($shingles) AS s FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
            FROM documents)),
        ev AS (
          SELECT DISTINCT unnest($shingles) AS s FROM (
            SELECT string_split(trim(regexp_replace(substring(text, 21, 400), '\\s+', ' ', 'g')), ' ') AS ws
            FROM documents WHERE doc_id % 83 = 7)),
        ov AS (SELECT doc_id, count(*) AS n_overlap FROM tr JOIN ev USING (s) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(o.n_overlap, 0) AS n_overlap,
               coalesce(o.n_overlap, 0) >= $minOverlap AS contaminated
        FROM documents d LEFT JOIN ov o ON d.doc_id = o.doc_id
        ORDER BY d.doc_id"""
  }

  /** Shared CTE chain ending in `rep(doc_id, dup_trigram_ratio,
    * top_token_ratio)` — used by the repetition oracle and the
    * composite quality filter. */
  private val repetitionCtes: String = {
    val concat3 = (0 until 3).map(i => s"ws[i+$i]").mkString(" || ' ' || ")
    s"""w AS (
          SELECT doc_id,
                 string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
          FROM documents),
        tri AS (
          SELECT doc_id,
                 len(list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                   i -> $concat3))) AS td,
                 greatest(len(ws) - 2, 0) AS tt
          FROM w),
        toks AS (SELECT doc_id, unnest(ws) AS t FROM w),
        cnt AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
        ta AS (SELECT doc_id, max(c) AS maxc, sum(c) AS n FROM cnt GROUP BY 1),
        rep AS (
          SELECT ta.doc_id,
                 CASE WHEN tt = 0 THEN 0.0
                      ELSE cast((2 * 1000000 * (tt - td) + tt) // (2 * tt) AS DOUBLE) / 1000000.0 END
                   AS dup_trigram_ratio,
                 cast((2 * 1000000 * maxc + n) // (2 * n) AS DOUBLE) / 1000000.0
                   AS top_token_ratio
          FROM ta JOIN tri ON ta.doc_id = tri.doc_id)"""
  }

  private val repetitionOracle: String =
    s"""WITH $repetitionCtes
        SELECT doc_id, dup_trigram_ratio, top_token_ratio
        FROM rep ORDER BY doc_id"""

  private val fpSql =
    """md5(concat_ws(chr(1),
         coalesce(cast(text AS VARCHAR), chr(1) || 'N'),
         coalesce(cast(lang AS VARCHAR), chr(1) || 'N')))"""

  /** Shared centroid CTE chain ending in `cent(label, dim, c,
    * n_vecs)` — the single SQL twin of [[Similarity.groupCentroids]],
    * used by both the centroid oracle and the trained-IVF oracle so
    * the arithmetic cannot drift between them. */
  private val centroidCtes: String =
    """x AS (
         SELECT label, embedding AS e,
                unnest(range(0, len(embedding))) AS dim
         FROM embeddings),
       cu AS (SELECT label, dim,
                     cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
              FROM x),
       ca AS (SELECT label, dim, sum(uu) AS su, count(*) AS n_vecs
              FROM cu GROUP BY 1, 2),
       cent AS (SELECT label, dim,
                       cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0 AS c,
                       n_vecs
                FROM ca)"""

  /** The quality score in integer micro-units (same formula as
    * [[scoreSql]] × 1e6 as BIGINT) — the engine-portable currency for
    * percentile/bucket arithmetic. */
  private val unitsSql: String =
    """cast(cast(round(greatest(least(
         least(cast(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
         (1.0 - least(
           cast(length(lower(text)) -
                length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
           / greatest(cast(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3 +
         cast(len(list_intersect(
           list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')),
           ['the','a','of','and','to','in','is'])) AS DOUBLE) / 7.0 * 0.3,
         1.0), 0.0), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)"""

  /** The quality-score scalar expression (same formula as the
    * llm_quality_score oracle). */
  private val scoreSql: String =
    """round(greatest(least(
         least(cast(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
         (1.0 - least(
           cast(length(lower(text)) -
                length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
           / greatest(cast(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3 +
         cast(len(list_intersect(
           list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')),
           ['the','a','of','and','to','in','is'])) AS DOUBLE) / 7.0 * 0.3,
         1.0), 0.0), 6)"""

  private val qualityFilterOracle: String =
    s"""WITH $repetitionCtes,
        base AS (
          SELECT doc_id,
                 len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS nt,
                 $scoreSql AS qs
          FROM documents),
        v AS (
          SELECT base.doc_id,
                 CASE WHEN nt < 30 THEN 'too_short'
                      WHEN qs < 0.5 THEN 'low_quality'
                      WHEN dup_trigram_ratio > 0.02 THEN 'repetitive'
                      WHEN top_token_ratio > 0.15 THEN 'top_token_dominant'
                      ELSE 'keep' END AS reason
          FROM base JOIN rep ON base.doc_id = rep.doc_id)
        SELECT doc_id, reason, reason = 'keep' AS keep
        FROM v ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "llm_corpus_datasheet" ->
      """WITH t AS (
           SELECT lang,
                  CASE WHEN b < 900 THEN 'train'
                       WHEN b < 950 THEN 'val'
                       ELSE 'test' END AS split,
                  len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS nt
           FROM (SELECT lang, text,
                        ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS b
                 FROM documents))
         SELECT split, lang, count(*) AS n_docs,
                cast(sum(nt) AS BIGINT) AS n_tokens
         FROM t GROUP BY split, lang ORDER BY split, lang""",
    "llm_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, doc_id // 100 AS shard,
                  len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS n_tokens
           FROM documents),
         r AS (SELECT *,
                      sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS s
               FROM t)
         SELECT doc_id, shard,
                cast(s // 256 AS BIGINT) AS pack_id,
                cast(s % 256 AS BIGINT) AS pack_offset,
                n_tokens
         FROM r ORDER BY doc_id""",
    "stream_events_archive" ->
      """SELECT event_type, count(*) AS n_events,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The replayed final batch must be a no-op, so the expected
    // aggregate counts each event exactly once.
    "stream_txn_sink" ->
      """SELECT event_type, count(*) AS n_events,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    // Planted redelivery duplicates must be dropped, so the expected
    // aggregate is the ORIGINAL (duplicate-free) table's.
    "stream_dropdup_watermark" ->
      """SELECT event_type, count(*) AS n_events,
                cast(sum(cast(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
         FROM events GROUP BY event_type ORDER BY event_type""",
    "llm_quality_filter" -> qualityFilterOracle,
    "llm_incremental_dedup" ->
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents),
          hist AS (SELECT * FROM d WHERE doc_id < 250),
          store AS (SELECT DISTINCT $fpSql AS fp FROM hist),
          batch AS (
            SELECT doc_id, text, lang FROM d WHERE doc_id >= 250
            UNION ALL
            SELECT doc_id + 10000, text, lang FROM hist WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 20000, text, lang FROM d
            WHERE doc_id >= 250 AND doc_id % 11 = 3),
          f AS (SELECT doc_id, lang, $fpSql AS fp FROM batch),
          intra AS (SELECT doc_id, lang, fp,
                           row_number() OVER (PARTITION BY fp ORDER BY doc_id ASC) AS rn
                    FROM f)
          SELECT doc_id, lang FROM intra
          WHERE rn = 1 AND fp NOT IN (SELECT fp FROM store)
          ORDER BY doc_id""",
    "llm_label_centroids" ->
      s"""WITH $centroidCtes
          SELECT label, dim, c AS centroid, n_vecs
          FROM cent ORDER BY label, dim""",
    "llm_repetition_stats" -> repetitionOracle,
    "llm_chunk_documents" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n, toks,
                      unnest(range(0, (len(toks) + 59) // 60)) AS chunk_idx
               FROM t)
         SELECT doc_id, chunk_idx,
                array_to_string(toks[chunk_idx * 60 + 1 : chunk_idx * 60 + 60], ' ') AS chunk_text,
                least(60, n - chunk_idx * 60) AS n_chunk_tokens
         FROM c ORDER BY doc_id, chunk_idx""",
    "llm_paragraph_dedup" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         c AS (SELECT doc_id, len(toks) AS n, toks,
                      unnest(range(0, (len(toks) + 2) // 3)) AS chunk_idx
               FROM t),
         ch AS (SELECT doc_id, chunk_idx,
                       array_to_string(toks[chunk_idx * 3 + 1 : chunk_idx * 3 + 3], ' ') AS chunk_text,
                       least(3, n - chunk_idx * 3) AS n_toks
                FROM c),
         w AS (SELECT md5(chunk_text) AS fp,
                      min(struct_pack(d := doc_id, i := chunk_idx)) AS win
               FROM ch GROUP BY 1),
         k AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, ch.n_toks,
                      (ch.doc_id = struct_extract(w.win, 'd')
                       AND ch.chunk_idx = struct_extract(w.win, 'i')) AS keep
               FROM ch JOIN w ON md5(ch.chunk_text) = w.fp)
         SELECT doc_id,
                count(*) AS n_paragraphs,
                count(*) FILTER (WHERE keep) AS n_kept,
                cast(coalesce(sum(n_toks) FILTER (WHERE keep), 0) AS BIGINT) AS kept_tokens,
                md5(coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                               FILTER (WHERE keep), '')) AS text_md5
         FROM k GROUP BY doc_id ORDER BY doc_id""",
    "llm_mixture_sample" ->
      """WITH b AS (
           SELECT doc_id, lang,
                  ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS bucket
           FROM documents),
         kept AS (
           SELECT doc_id, lang FROM b
           WHERE bucket < CASE lang WHEN 'en' THEN 1000.0 WHEN 'zh' THEN 500.0
                                    WHEN 'es' THEN 500.0 WHEN 'de' THEN 250.0
                                    WHEN 'fr' THEN 100.0 ELSE 0.0 END)
         SELECT lang, count(*) AS n_kept,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM kept GROUP BY lang ORDER BY lang""",
    "llm_train_val_split" ->
      """SELECT doc_id,
                CASE WHEN b < 900 THEN 'train'
                     WHEN b < 950 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS b
               FROM documents)
         ORDER BY doc_id""",
    "llm_decontaminate" -> decontaminateOracle(5, 3),
    "llm_pii_redact" -> piiRedactOracle,
    "llm_dup_clusters" -> dupClusterOracle(2, 0.8),
    "llm_dedup_keep_best" -> keepBestOracle(2, 0.8),
    "llm_incremental_neardup" -> incNearDupOracle(2, 0.8),
    "llm_bigram_lm" ->
      """WITH bg AS (
           SELECT unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM (SELECT string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
                 FROM documents)),
         c AS (SELECT bigram, count(*) AS n_bigram FROM bg GROUP BY bigram),
         c2 AS (SELECT bigram, n_bigram, string_split(bigram, ' ')[1] AS prefix FROM c),
         p AS (SELECT prefix, sum(n_bigram) AS np FROM c2 GROUP BY prefix)
         SELECT c2.bigram, c2.n_bigram, cast(p.np AS BIGINT) AS n_prefix
         FROM c2 JOIN p USING (prefix)
         WHERE n_bigram >= 3
         ORDER BY bigram""",
    "llm_containment_pairs" ->
      """WITH docs2 AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 20000 AS doc_id,
                  array_to_string(
                    list_slice(ws, 1, greatest(cast(len(ws) // 2 AS INTEGER), 1)),
                    ' ') AS text
           FROM (SELECT doc_id,
                        string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
                 FROM documents)
           WHERE doc_id % 25 = 0),
         sh AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(ws) - 3, 0) + 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS ts
           FROM (SELECT doc_id,
                        string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
                 FROM docs2)),
         posts AS (SELECT doc_id, unnest(ts) AS s FROM sh),
         hot AS (SELECT coalesce(list(s), []) AS hs
                 FROM (SELECT s FROM posts GROUP BY s
                       HAVING count(*) > (SELECT greatest(64, 2 * cast(ceil(sqrt(count(*))) AS BIGINT))
                                          FROM docs2))),
         shf AS (SELECT doc_id, ts,
                        list_filter(ts, x -> NOT list_contains(hot.hs, x)) AS tsf
                 FROM sh, hot),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  round(cast(len(list_intersect(a.tsf, b.tsf)) AS DOUBLE) /
                        least(len(a.ts), len(b.ts)), 6) AS containment
           FROM shf a JOIN shf b ON a.doc_id < b.doc_id
           WHERE least(len(a.ts), len(b.ts)) > 0)
         SELECT id_a, id_b, containment FROM pairs WHERE containment >= 0.9
         ORDER BY id_a, id_b""",
    "llm_bpeish_pretokenize" ->
      """WITH p AS (
           SELECT unnest(regexp_extract_all(lower(text),
                    '[a-z]+|[0-9]+|[^a-z0-9\s]', 0)) AS piece
           FROM documents)
         SELECT piece, count(*) AS n FROM p
         GROUP BY piece ORDER BY n DESC, piece LIMIT 30""",
    "llm_bpe_pair_stats" ->
      """WITH w AS (
           SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         wc AS (SELECT w, count(*) AS wc FROM w
                WHERE length(w) >= 2 GROUP BY w),
         pairs AS (
           SELECT unnest(list_transform(range(1, length(w) - 1 + 1),
                    i -> substr(w, cast(i AS INTEGER), 2))) AS pair, wc
           FROM wc)
         SELECT pair, cast(sum(wc) AS BIGINT) AS n
         FROM pairs WHERE length(pair) = 2
         GROUP BY pair ORDER BY n DESC, pair LIMIT 20""",
    "llm_bigram_perplexity" ->
      """WITH occ AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                    i -> ws[i] || ' ' || ws[i+1])) AS bigram
           FROM (SELECT doc_id,
                        string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
                 FROM documents)),
         lm AS (SELECT bigram, count(*) AS nb FROM occ GROUP BY bigram),
         lm2 AS (SELECT bigram, nb, string_split(bigram, ' ')[1] AS prefix FROM lm),
         pref AS (SELECT prefix, sum(nb) AS np FROM lm2 GROUP BY prefix),
         sc AS (SELECT occ.doc_id,
                       cast(round(ln(cast(np AS DOUBLE) / nb) * 1000000, 0) AS BIGINT) AS nll
                FROM occ JOIN lm2 USING (bigram) JOIN pref USING (prefix))
         SELECT doc_id, count(*) AS n_bigrams,
                cast(sum(nll) AS BIGINT) AS nll_micro
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "llm_shuffle_shards" ->
      """WITH h AS (
           SELECT doc_id, md5(cast(doc_id AS VARCHAR)) AS hx,
                  ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 AS b
           FROM documents)
         SELECT doc_id, b % 8 AS shard,
                cast(row_number() OVER (PARTITION BY b % 8
                  ORDER BY hx, doc_id) AS INTEGER) AS pos
         FROM h ORDER BY doc_id""",
    "llm_semdedup" ->
      """WITH e AS (SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         dropped AS (
           SELECT DISTINCT b.vec_id AS vid
           FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4)
         SELECT vec_id, label FROM embeddings
         WHERE vec_id NOT IN (SELECT vid FROM dropped)
         ORDER BY vec_id""",
    "llm_simhash_pairs" -> simhashOracle(3),
    "llm_fuzzy_pairs" ->
      """WITH d AS (
           SELECT doc_id, lang, n_chars,
                  substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            1, 64) AS t
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                cast(levenshtein(a.t, b.t) AS INTEGER) AS dist
         FROM d a JOIN d b
           ON a.lang = b.lang AND a.doc_id < b.doc_id
          AND abs(a.n_chars - b.n_chars) <= 50
         WHERE levenshtein(a.t, b.t) <= 8
         ORDER BY id_a, id_b""",
    "llm_exact_dedup" ->
      """WITH u AS (
           SELECT doc_id, text, lang FROM documents
           UNION ALL SELECT doc_id + 10000, text, lang FROM documents),
         fp AS (
           SELECT doc_id, lang,
                  md5(concat_ws(chr(1),
                    coalesce(cast(text AS VARCHAR), chr(1) || 'N'),
                    coalesce(cast(lang AS VARCHAR), chr(1) || 'N'))) AS f
           FROM u),
         keep AS (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY f ORDER BY doc_id ASC) AS rn
           FROM fp)
         SELECT doc_id, lang FROM keep WHERE rn = 1 ORDER BY doc_id""",
    "llm_jaccard_pairs" -> jaccardOracleCapped(4, 0.5),
    "llm_minhash_pairs" -> jaccardOracle(2, 0.8),
    "llm_lang_id" -> {
      val profiles = TextAnalysis.langProfiles
      def score(words: Seq[String]) =
        s"len(list_intersect(toks, [${words.map(w => s"'$w'").mkString(",")}]))"
      val scores = profiles.map { case (l, ws) => s"${score(ws)} AS s_$l" }.mkString(", ")
      val best = "greatest(" + profiles.map(p => s"s_${p._1}").mkString(", ") + ")"
      val cases = profiles.map { case (l, _) =>
        s"WHEN s_$l = __best AND __best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH toks AS (
            SELECT doc_id, lang,
                   list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
            FROM documents),
          scored AS (SELECT doc_id, lang, $scores FROM toks),
          best AS (SELECT *, $best AS __best FROM scored)
          SELECT doc_id, lang,
                 CASE $cases ELSE 'und' END AS pred_lang
          FROM best ORDER BY doc_id"""
    },
    "llm_quality_score" ->
      """SELECT doc_id,
                round(greatest(least(
                  least(cast(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4 +
                  (1.0 - least(
                    cast(length(lower(text)) -
                         length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
                    / greatest(cast(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3 +
                  cast(len(list_intersect(
                    list_distinct(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')),
                    ['the','a','of','and','to','in','is'])) AS DOUBLE) / 7.0 * 0.3,
                  1.0), 0.0), 6) AS quality_score
         FROM documents ORDER BY doc_id""",
    "llm_classifier_score" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
                    AS toks
           FROM documents)
         SELECT doc_id,
                cast(coalesce(list_sum(list_transform(toks,
                  t -> ('0x' || substring(md5(t), 1, 8))::BIGINT % 2001
                       - 1000)), 0) AS BIGINT) AS score_units,
                cast(coalesce(list_sum(list_transform(toks,
                  t -> ('0x' || substring(md5(t), 1, 8))::BIGINT % 2001
                       - 1000)), 0) AS BIGINT) > 0 AS keep
         FROM t ORDER BY doc_id""",
    "llm_token_stats" ->
      """WITH t AS (
           SELECT doc_id, text,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
           FROM documents)
         SELECT doc_id,
                cast(len(toks) AS INTEGER) AS n_tokens,
                cast(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
                cast(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INTEGER)
                  AS n_subwords,
                cast(length(text) AS INTEGER) AS n_chars,
                cast((2 * 1000000 * length(norm) + greatest(len(toks), 1))
                     // (2 * greatest(len(toks), 1)) AS DOUBLE) / 1000000.0
                  AS mean_token_len
         FROM t ORDER BY doc_id""",
    "w3_topk_aggregator" ->
      """SELECT user_id, cast(rank AS INTEGER) AS rank, event_id, value FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id ASC) AS rank
           FROM events WHERE value IS NOT NULL)
         WHERE rank <= 3 ORDER BY user_id, rank""",
    "sql_topk_udaf" ->
      """SELECT user_id, cast(rank AS INTEGER) AS rank, event_id, value FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY value DESC, event_id ASC) AS rank
           FROM events WHERE value IS NOT NULL)
         WHERE rank <= 3 ORDER BY user_id, rank""",
    "llm_quality_percentiles" ->
      s"""WITH u AS (SELECT lang, $unitsSql AS units FROM documents)
          SELECT lang,
                 quantile_cont(units, 0.25) / 1000000.0 AS p25,
                 quantile_cont(units, 0.5) / 1000000.0 AS p50,
                 quantile_cont(units, 0.75) / 1000000.0 AS p75,
                 count(*) AS n_docs
          FROM u GROUP BY lang ORDER BY lang""",
    "llm_curation_funnel" ->
      s"""WITH raw AS (
            SELECT doc_id, text, lang FROM documents
            UNION ALL SELECT doc_id + 10000, text, lang FROM documents),
          fp AS (
            SELECT doc_id, text, lang,
                   md5(concat_ws(chr(1),
                     coalesce(cast(text AS VARCHAR), chr(1) || 'N'),
                     coalesce(cast(lang AS VARCHAR), chr(1) || 'N'))) AS f
            FROM raw),
          dedup AS (
            SELECT text, lang, min(doc_id) AS doc_id FROM fp
            GROUP BY f, text, lang),
          q AS (SELECT * FROM dedup WHERE $unitsSql >= 500000),
          t AS (SELECT * FROM q
                WHERE ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000 < 900)
          SELECT cast(1 AS INTEGER) AS ord, 'raw' AS stage, (SELECT count(*) FROM raw) AS n
          UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM dedup)
          UNION ALL SELECT 3, 'quality', (SELECT count(*) FROM q)
          UNION ALL SELECT 4, 'train_split', (SELECT count(*) FROM t)
          ORDER BY ord""",
    "llm_ngram_novelty" ->
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS ts
           FROM (SELECT doc_id,
                        string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws
                 FROM documents)),
         occ AS (SELECT doc_id, unnest(ts) AS s FROM sh),
         dfq AS (SELECT s, count(*) AS df FROM occ GROUP BY s)
         SELECT occ.doc_id, count(*) AS n_shingles,
                count(*) FILTER (df = 1) AS n_novel,
                (count(*) FILTER (df = 1) * 1000000) // count(*) AS novelty_micro
         FROM occ JOIN dfq USING (s)
         GROUP BY occ.doc_id ORDER BY occ.doc_id""",
    "llm_quality_mad" ->
      s"""WITH u AS (SELECT lang, $unitsSql AS units FROM documents),
          m AS (SELECT lang, quantile_cont(units, 0.5) AS med FROM u GROUP BY lang),
          d AS (SELECT u.lang, abs(cast(units AS DOUBLE) - med) AS ad, med
                FROM u JOIN m USING (lang))
          SELECT lang, max(med) / 1000000.0 AS median_score,
                 quantile_cont(ad, 0.5) / 1000000.0 AS mad_score,
                 count(*) AS n_docs
          FROM d GROUP BY lang ORDER BY lang""",
    "llm_oversample_balance" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         t AS (SELECT max(n) AS t FROM n),
         r AS (SELECT d.doc_id, d.lang, n.n, t.t,
                      unnest(range(1, cast(ceil(cast(t.t AS DOUBLE) / n.n) AS BIGINT) + 1)) AS rep
               FROM documents d JOIN n USING (lang) CROSS JOIN t),
         capped AS (SELECT *, row_number() OVER (PARTITION BY lang
                      ORDER BY rep, doc_id) AS rn FROM r)
         SELECT lang, max(n) AS n_orig, count(*) AS n_after,
                count(DISTINCT doc_id) AS n_distinct
         FROM capped WHERE rn <= t GROUP BY lang ORDER BY lang""",
    "llm_quality_buckets" ->
      s"""WITH u AS (SELECT doc_id, $unitsSql AS units FROM documents),
          c AS (SELECT quantile_cont(units, 0.25) AS c1,
                       quantile_cont(units, 0.5) AS c2,
                       quantile_cont(units, 0.75) AS c3 FROM u)
          SELECT doc_id,
                 cast((CASE WHEN units > c1 THEN 1 ELSE 0 END) +
                      (CASE WHEN units > c2 THEN 1 ELSE 0 END) +
                      (CASE WHEN units > c3 THEN 1 ELSE 0 END) AS INTEGER) AS bucket
          FROM u, c ORDER BY doc_id""",
    "llm_tfidf_top_terms" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
         len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS nd FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  round((cast(tf.cnt AS DOUBLE) / len.len) *
                        ln(cast(n.nd AS DOUBLE) / dfq.df), 6) AS tfidf
           FROM tf JOIN len ON tf.doc_id = len.doc_id
                   JOIN dfq ON tf.term = dfq.term
                   CROSS JOIN n)
         SELECT doc_id, cast(rank AS INTEGER) AS rank, term, tfidf FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term ASC) AS rank FROM scored)
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "llm_bm25_search" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS term
           FROM documents),
         len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM documents) AS nd,
                      (SELECT avg(len) FROM len) AS avgdl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         wide AS (
           SELECT doc_id,
                  sum(CASE WHEN term = 'spark' THEN tf END) AS tf_spark,
                  sum(CASE WHEN term = 'vector' THEN tf END) AS tf_vector,
                  sum(CASE WHEN term = 'stream' THEN tf END) AS tf_stream
           FROM tf GROUP BY 1),
         scored AS (
           SELECT w.doc_id, round(
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='spark') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='spark') + 0.5) + 1) *
                      (tf_spark * 2.2) /
                      (tf_spark + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='vector') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='vector') + 0.5) + 1) *
                      (tf_vector * 2.2) /
                      (tf_vector + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='stream') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='stream') + 0.5) + 1) *
                      (tf_stream * 2.2) /
                      (tf_stream + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0), 6)
             AS score
           FROM wide w JOIN len ON w.doc_id = len.doc_id CROSS JOIN n)
         SELECT cast(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
                  AS rank, doc_id, score
         FROM scored ORDER BY score DESC, doc_id LIMIT 20""",
    // the persisted index must reproduce the recomputation's scores
    // bit-for-bit — same oracle as llm_bm25_search
    "llm_bm25_persisted" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS term
           FROM documents),
         len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM documents) AS nd,
                      (SELECT avg(len) FROM len) AS avgdl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         wide AS (
           SELECT doc_id,
                  sum(CASE WHEN term = 'spark' THEN tf END) AS tf_spark,
                  sum(CASE WHEN term = 'vector' THEN tf END) AS tf_vector,
                  sum(CASE WHEN term = 'stream' THEN tf END) AS tf_stream
           FROM tf GROUP BY 1),
         scored AS (
           SELECT w.doc_id, round(
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='spark') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='spark') + 0.5) + 1) *
                      (tf_spark * 2.2) /
                      (tf_spark + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='vector') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='vector') + 0.5) + 1) *
                      (tf_vector * 2.2) /
                      (tf_vector + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='stream') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='stream') + 0.5) + 1) *
                      (tf_stream * 2.2) /
                      (tf_stream + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0), 6)
             AS score
           FROM wide w JOIN len ON w.doc_id = len.doc_id CROSS JOIN n)
         SELECT cast(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
                  AS rank, doc_id, score
         FROM scored ORDER BY score DESC, doc_id LIMIT 20""",
    "llm_hybrid_search" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS term
           FROM documents),
         len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM documents) AS nd,
                      (SELECT avg(len) FROM len) AS avgdl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         wide AS (
           SELECT doc_id,
                  sum(CASE WHEN term = 'spark' THEN tf END) AS tf_spark,
                  sum(CASE WHEN term = 'vector' THEN tf END) AS tf_vector,
                  sum(CASE WHEN term = 'stream' THEN tf END) AS tf_stream
           FROM tf GROUP BY 1),
         scored AS (
           SELECT w.doc_id, round(
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='spark') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='spark') + 0.5) + 1) *
                      (tf_spark * 2.2) /
                      (tf_spark + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='vector') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='vector') + 0.5) + 1) *
                      (tf_vector * 2.2) /
                      (tf_vector + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='stream') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='stream') + 0.5) + 1) *
                      (tf_stream * 2.2) /
                      (tf_stream + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0), 6)
             AS score
           FROM wide w JOIN len ON w.doc_id = len.doc_id CROSS JOIN n),
         bm AS (
           SELECT doc_id, cast(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INTEGER) AS rank_bm
           FROM scored ORDER BY score DESC, doc_id LIMIT 50),
         q AS (SELECT cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
         cosd AS (
           SELECT e.vec_id AS doc_id,
                  round(list_cosine_similarity(qv,
                    cast(e.embedding AS DOUBLE[])), 4) AS cs
           FROM q, embeddings e WHERE e.vec_id <> 0),
         cosr AS (
           SELECT doc_id, cast(row_number() OVER
                    (ORDER BY cs DESC, doc_id) AS INTEGER) AS rank_cos
           FROM cosd ORDER BY cs DESC, doc_id LIMIT 50),
         fused AS (
           SELECT coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
                  round(coalesce(cast(1.0 AS DOUBLE) / (60 + rank_bm), 0) +
                        coalesce(cast(1.0 AS DOUBLE) / (60 + rank_cos), 0), 6)
                    AS rrf
           FROM bm FULL OUTER JOIN cosr ON bm.doc_id = cosr.doc_id)
         SELECT cast(row_number() OVER (ORDER BY rrf DESC, doc_id)
                  AS INTEGER) AS rank, doc_id, rrf
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 15""",
    "llm_hybrid_persisted" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS term
           FROM documents),
         len AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
         n AS (SELECT (SELECT count(*) FROM documents) AS nd,
                      (SELECT avg(len) FROM len) AS avgdl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         wide AS (
           SELECT doc_id,
                  sum(CASE WHEN term = 'spark' THEN tf END) AS tf_spark,
                  sum(CASE WHEN term = 'vector' THEN tf END) AS tf_vector,
                  sum(CASE WHEN term = 'stream' THEN tf END) AS tf_stream
           FROM tf GROUP BY 1),
         scored AS (
           SELECT w.doc_id, round(
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='spark') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='spark') + 0.5) + 1) *
                      (tf_spark * 2.2) /
                      (tf_spark + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='vector') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='vector') + 0.5) + 1) *
                      (tf_vector * 2.2) /
                      (tf_vector + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0) +
             coalesce(ln((nd - (SELECT df FROM dfq WHERE term='stream') + 0.5) /
                         ((SELECT df FROM dfq WHERE term='stream') + 0.5) + 1) *
                      (tf_stream * 2.2) /
                      (tf_stream + 1.2 * (1 - 0.75 + 0.75 * len / avgdl)), 0), 6)
             AS score
           FROM wide w JOIN len ON w.doc_id = len.doc_id CROSS JOIN n),
         bm AS (
           SELECT doc_id, cast(row_number() OVER
                    (ORDER BY score DESC, doc_id) AS INTEGER) AS rank_bm
           FROM scored ORDER BY score DESC, doc_id LIMIT 50),
         x AS (SELECT label, embedding AS e,
                      unnest(range(0, len(embedding))) AS dim
               FROM embeddings),
         cu AS (SELECT label, dim,
                       cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
                FROM x),
         ca AS (SELECT label, dim, sum(uu) AS su, count(*) AS n_vecs
                FROM cu GROUP BY 1, 2),
         seeds AS (SELECT label AS seed_id,
                          list(cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0
                               ORDER BY dim) AS sv
                   FROM ca GROUP BY label),
         corpus AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id),
         cosr AS (
           SELECT neighbor_id AS doc_id, cast(row_number() OVER
                    (ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER)
                    AS rank_cos
           FROM cands ORDER BY cos_sim DESC, neighbor_id LIMIT 50),
         fused AS (
           SELECT coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
                  round(coalesce(cast(1.0 AS DOUBLE) / (60 + rank_bm), 0) +
                        coalesce(cast(1.0 AS DOUBLE) / (60 + rank_cos), 0), 6)
                    AS rrf
           FROM bm FULL OUTER JOIN cosr ON bm.doc_id = cosr.doc_id)
         SELECT cast(row_number() OVER (ORDER BY rrf DESC, doc_id)
                  AS INTEGER) AS rank, doc_id, rrf
         FROM fused ORDER BY rrf DESC, doc_id LIMIT 15""",
    "llm_token_frequencies" ->
      """WITH toks AS (
           SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
             AS token
           FROM documents)
         SELECT token, count(*) AS n FROM toks
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "llm_url_normalize_dedup" ->
      """WITH u AS (
           SELECT doc_id,
                  'https://' ||
                  CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
                  '.example.com/docs/' || cast(doc_id % 50 AS VARCHAR) ||
                  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed' ELSE '' END AS url
           FROM documents),
         c AS (
           SELECT doc_id, url,
                  'https://' ||
                  lower(regexp_extract(url, '^https://([^/]+)(/[^?]*)', 1)) ||
                  regexp_extract(url, '^https://([^/]+)(/[^?]*)', 2) AS canonical_url
           FROM u)
         SELECT canonical_url, count(*) AS n_urls,
                count(DISTINCT url) AS n_raw_variants,
                min(doc_id) AS kept_doc_id
         FROM c GROUP BY canonical_url ORDER BY canonical_url""",
    "llm_domain_stats" ->
      s"""WITH u AS (
            SELECT doc_id, text,
                   source || '.ex' || cast(doc_id % 4 AS VARCHAR) || '.' ||
                   (CASE (doc_id % 3) WHEN 0 THEN 'com'
                                      WHEN 1 THEN 'org' ELSE 'net' END) AS h
            FROM documents),
          d AS (
            SELECT doc_id, $unitsSql AS q,
                   lower(CASE WHEN doc_id % 5 = 0 THEN upper(h) ELSE h END)
                     AS host,
                   '/p/' || cast(doc_id % 25 AS VARCHAR) AS path
            FROM u),
          r AS (
            SELECT *, array_to_string(string_split(host, '.')[-2:], '.')
                        AS domain
            FROM d)
          SELECT domain, count(*) AS n_docs,
                 count(DISTINCT host) AS n_hosts,
                 count(DISTINCT path) AS n_paths,
                 cast(sum(q) AS DOUBLE) / count(*) / 1000000.0 AS avg_quality
          FROM r WHERE domain NOT IN ('ex0.com', 'ex1.org')
          GROUP BY domain ORDER BY domain""",
    "llm_vocab_oov" ->
      """WITH toks AS (
           SELECT doc_id, lang,
                  unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                    AS tok
           FROM documents),
         sp AS (
           SELECT *, ('0x' || substring(md5(cast(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 1000 < 900 AS is_train
           FROM toks),
         vocab AS (
           SELECT tok FROM (
             SELECT tok, count(*) AS c FROM sp WHERE is_train
             GROUP BY tok ORDER BY c DESC, tok LIMIT 20)),
         pd AS (
           SELECT lang, doc_id, count(*) AS n_toks,
                  count(*) FILTER (tok NOT IN (SELECT tok FROM vocab)) AS n_oov
           FROM sp WHERE NOT is_train GROUP BY 1, 2),
         pd2 AS (
           SELECT *, (2 * 1000000 * n_oov + n_toks) // (2 * n_toks) AS oov_ppm
           FROM pd)
         SELECT lang, count(*) AS n_docs,
                cast(sum(n_toks) AS BIGINT) AS n_tokens,
                cast(sum(n_oov) AS BIGINT) AS n_oov_tokens,
                cast(sum(oov_ppm) AS DOUBLE) / count(*) AS avg_doc_oov_ppm,
                count(*) FILTER (oov_ppm > 300000) AS n_high_oov_docs
         FROM pd2 GROUP BY lang ORDER BY lang""",
    "llm_dup_span_stats" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')
                    AS toks
           FROM documents),
         sp AS (
           SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span
           FROM t, unnest(range(1, len(toks) - 6)) r(i)
           WHERE len(toks) >= 8),
         d AS (
           SELECT doc_id,
                  min(doc_id) OVER (PARTITION BY span) <>
                  max(doc_id) OVER (PARTITION BY span) AS dup
           FROM sp),
         pd AS (
           SELECT doc_id, count(*) AS n_spans,
                  count(*) FILTER (dup) AS n_dup_spans
           FROM d GROUP BY doc_id)
         SELECT doc_id, n_spans, n_dup_spans,
                (2 * 1000000 * n_dup_spans + n_spans) // (2 * n_spans) AS dup_ppm
         FROM pd ORDER BY doc_id""",
    "llm_fingerprints" ->
      """SELECT doc_id,
                coalesce(list_reduce(
                  list_transform(range(1, length(text) + 1),
                    i -> cast(ascii(substr(text, cast(i AS INTEGER), 1)) AS BIGINT)),
                  (acc, x) -> (acc * 131 + x) % 1000000007), 0) AS rolling_fp,
                md5(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS md5_fp
         FROM documents ORDER BY doc_id""",
    "llm_knn_sq8" ->
      """WITH base AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         sq AS (SELECT vec_id,
                  list_transform(v, x -> floor(x /
                    greatest(list_max(list_transform(v, y -> abs(y)))
                             / 127.0, 1e-30) + 0.5)) AS c
                FROM base),
         q AS (SELECT vec_id AS qid, c AS qc FROM sq WHERE vec_id % 50 = 0),
         scored AS (
           SELECT qid, e.vec_id AS nid,
                  round(list_cosine_similarity(qc, e.c), 4) AS cs
           FROM q JOIN sq e ON e.vec_id <> qid),
         ranked AS (
           SELECT qid AS query_id, nid AS neighbor_id, cs AS qcos_sim,
                  cast(row_number() OVER (PARTITION BY qid
                    ORDER BY cs DESC, nid ASC) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, qcos_sim, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "llm_knn_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 50 = 0),
         scored AS (
           SELECT qid, e.vec_id AS nid,
                  round(list_cosine_similarity(qv, cast(e.embedding AS DOUBLE[])), 4) AS cs
           FROM q JOIN embeddings e ON e.vec_id <> qid),
         ranked AS (
           SELECT qid AS query_id, nid AS neighbor_id, cs AS cos_sim,
                  cast(row_number() OVER (PARTITION BY qid
                    ORDER BY cs DESC, nid ASC) AS INTEGER) AS rank
           FROM scored)
         SELECT query_id, neighbor_id, cos_sim, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "llm_retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS qid, cast(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 50 = 0),
         scored AS (
           SELECT qid, e.vec_id AS nid,
                  round(list_cosine_similarity(qv,
                    cast(e.embedding AS DOUBLE[])), 4) AS cs
           FROM q JOIN embeddings e ON e.vec_id <> qid),
         ranked AS (
           SELECT qid AS query_id, nid AS neighbor_id,
                  cast(row_number() OVER (PARTITION BY qid
                    ORDER BY cs DESC, nid ASC) AS INTEGER) AS rank
           FROM scored),
         top AS (SELECT * FROM ranked WHERE rank <= 10),
         lab AS (SELECT vec_id, label FROM embeddings),
         tot AS (SELECT label, count(*) AS cnt FROM lab GROUP BY 1),
         j AS (SELECT t.query_id, t.rank, lq.label AS ql,
                      CASE WHEN lq.label = ln.label THEN 1 ELSE 0 END AS rel
               FROM top t
               JOIN lab lq ON lq.vec_id = t.query_id
               JOIN lab ln ON ln.vec_id = t.neighbor_id),
         per AS (SELECT query_id, ql,
                   sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END) AS hits,
                   min(CASE WHEN rel = 1 AND rank <= 10
                            THEN rank END) AS firstrel,
                   sum(CASE WHEN rank <= 5
                            THEN rel / log2(rank + 1.0)
                            ELSE 0 END) AS dcg
                 FROM j GROUP BY 1, 2),
         fin AS (SELECT p.query_id,
                        cast(t.cnt - 1 AS BIGINT) AS n_relevant,
                        cast(p.hits AS DOUBLE) AS hits, p.firstrel,
                        cast(p.dcg AS DOUBLE) AS dcg,
                        cast(least(t.cnt - 1, 5) AS INTEGER) AS m
                 FROM per p JOIN tot t ON t.label = p.ql)
         SELECT query_id, n_relevant,
                round(CASE WHEN n_relevant > 0
                           THEN hits / cast(n_relevant AS DOUBLE)
                           ELSE 0.0 END, 4) AS recall_at_5,
                round(hits / 5.0, 4) AS precision_at_5,
                round(coalesce(1.0 / firstrel, 0.0), 4) AS mrr_at_10,
                round(CASE WHEN m >= 1
                           THEN dcg / list_sum(list_transform(
                             range(1, m + 1), i -> 1.0 / log2(i + 1.0)))
                           ELSE 0.0 END, 4) AS ndcg_at_5
         FROM fin ORDER BY query_id""",
    "llm_knn_ivf_sq8" ->
      """WITH base AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         seeds AS (SELECT vec_id AS seed_id, v AS sv FROM base
                   WHERE vec_id % 50 = 1),
         sq AS (SELECT vec_id,
                  list_transform(v, x -> floor(x /
                    greatest(list_max(list_transform(v, y -> abs(y)))
                             / 127.0, 1e-30) + 0.5)) AS c
                FROM base),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT b.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY b.vec_id
                      ORDER BY round(list_cosine_similarity(b.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM base b CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM base
               WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, seed_id AS cell FROM (
             SELECT q.query_id, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, a.vec_id AS neighbor_id,
                  round(list_cosine_similarity(qs.c, cs.c), 4) AS cs
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN sq cs ON cs.vec_id = a.vec_id
           JOIN sq qs ON qs.vec_id = p.query_id
           WHERE a.vec_id <> p.query_id),
         ranked AS (
           SELECT query_id, neighbor_id, cs AS qcos_sim,
                  cast(row_number() OVER (PARTITION BY query_id
                    ORDER BY cs DESC, neighbor_id ASC) AS INTEGER) AS rank
           FROM cands)
         SELECT query_id, neighbor_id, qcos_sim, rank FROM ranked
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_rerank" ->
      """WITH base AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
         seeds AS (SELECT vec_id AS seed_id, v AS sv FROM base
                   WHERE vec_id % 50 = 1),
         sq AS (SELECT vec_id,
                  list_transform(v, x -> floor(x /
                    greatest(list_max(list_transform(v, y -> abs(y)))
                             / 127.0, 1e-30) + 0.5)) AS c
                FROM base),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT b.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY b.vec_id
                      ORDER BY round(list_cosine_similarity(b.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM base b CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM base
               WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, seed_id AS cell FROM (
             SELECT q.query_id, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 3),
         cands AS (
           SELECT p.query_id, a.vec_id AS neighbor_id,
                  round(list_cosine_similarity(qs.c, cs.c), 4) AS cs
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN sq cs ON cs.vec_id = a.vec_id
           JOIN sq qs ON qs.vec_id = p.query_id
           WHERE a.vec_id <> p.query_id),
         short AS (
           SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cs DESC, neighbor_id ASC) AS r FROM cands)
           WHERE r <= 10),
         rr AS (
           SELECT s.query_id, s.neighbor_id,
                  round(list_cosine_similarity(qb.v, nb.v), 4) AS cos_sim
           FROM short s
           JOIN base qb ON qb.vec_id = s.query_id
           JOIN base nb ON nb.vec_id = s.neighbor_id)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM rr)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_ivf" ->
      """WITH seeds AS (
           SELECT vec_id AS seed_id, cast(embedding AS DOUBLE[]) AS sv
           FROM embeddings WHERE vec_id % 50 = 1),
         corpus AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM cands)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_filtered" ->
      """WITH seeds AS (
           SELECT vec_id AS seed_id, cast(embedding AS DOUBLE[]) AS sv
           FROM embeddings WHERE vec_id % 50 = 1),
         corpus AS (
           SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id AND c.label % 3 = 0)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM cands)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_filtered_persisted" ->
      """WITH x AS (SELECT label, embedding AS e,
                  unnest(range(0, len(embedding))) AS dim
           FROM embeddings),
         cu AS (SELECT label, dim,
                       cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
                FROM x),
         ca AS (SELECT label, dim, sum(uu) AS su, count(*) AS n_vecs
                FROM cu GROUP BY 1, 2),
         seeds AS (SELECT label AS seed_id,
                          list(cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0
                               ORDER BY dim) AS sv
                   FROM ca GROUP BY label),
         corpus AS (SELECT vec_id, label, cast(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id AND c.label % 3 = 0)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM cands)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_ivf_trained" ->
      s"""WITH $centroidCtes,
         seeds AS (SELECT label AS seed_id, list(c ORDER BY dim) AS sv
                   FROM cent GROUP BY label),
         corpus AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM cands)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_ivf_persisted" ->
      s"""WITH x AS (
           SELECT label, embedding AS e,
                  unnest(range(0, len(embedding))) AS dim
           FROM embeddings WHERE vec_id % 5 <> 0),
         cu AS (SELECT label, dim,
                       cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
                FROM x),
         ca AS (SELECT label, dim, sum(uu) AS su, count(*) AS n_vecs
                FROM cu GROUP BY 1, 2),
         cent AS (SELECT label, dim,
                         cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0 AS c,
                         n_vecs
                  FROM ca),
         seeds AS (SELECT label AS seed_id, list(c ORDER BY dim) AS sv
                   FROM cent GROUP BY label),
         corpus AS (
           SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, cast(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
         probed AS (
           SELECT query_id, qv, seed_id AS cell FROM (
             SELECT q.query_id, q.qv, s.seed_id,
                    row_number() OVER (PARTITION BY q.query_id
                      ORDER BY round(list_cosine_similarity(q.qv, s.sv), 4) DESC,
                               s.seed_id ASC) AS pr
             FROM q CROSS JOIN seeds s)
           WHERE pr <= 2),
         cands AS (
           SELECT p.query_id, c.vec_id AS neighbor_id,
                  round(list_cosine_similarity(p.qv, c.v), 4) AS cos_sim
           FROM probed p
           JOIN assigned a ON a.cell = p.cell
           JOIN corpus c ON c.vec_id = a.vec_id
           WHERE c.vec_id <> p.query_id)
         SELECT query_id, neighbor_id, cos_sim,
                cast(rank AS INTEGER) AS rank
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM cands)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "llm_knn_ivf_maintain" ->
      """WITH x AS (SELECT label, embedding AS e,
                  unnest(range(0, len(embedding))) AS dim
           FROM embeddings WHERE label < 5),
         cu AS (SELECT label, dim,
                       cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
                FROM x),
         ca AS (SELECT label, dim, sum(uu) AS su, count(*) AS n_vecs
                FROM cu GROUP BY 1, 2),
         seeds AS (SELECT label AS seed_id,
                          list(cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0
                               ORDER BY dim) AS sv
                   FROM ca GROUP BY label),
         corpus AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         assigned AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, s.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, s.sv), 4) DESC,
                               s.seed_id ASC) AS rn
             FROM corpus c CROSS JOIN seeds s)
           WHERE rn = 1),
         mx AS (SELECT a.cell, e.embedding AS e,
                       unnest(range(0, len(e.embedding))) AS dim
                FROM embeddings e JOIN assigned a USING (vec_id)),
         mu AS (SELECT cell, dim,
                       cast(round(cast(e[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS uu
                FROM mx),
         ma AS (SELECT cell, dim, sum(uu) AS su, count(*) AS n_vecs
                FROM mu GROUP BY 1, 2),
         means AS (SELECT cell,
                          list(cast((2 * su + sign(su) * n_vecs) // (2 * n_vecs) AS DOUBLE) / 1000000.0
                               ORDER BY dim) AS mv
                   FROM ma GROUP BY cell),
         drift AS (SELECT m.cell, m.mv,
                          1.0 - round(list_cosine_similarity(m.mv, s.sv), 4) AS d
                   FROM means m JOIN seeds s ON s.seed_id = m.cell),
         newseeds AS (
           SELECT s.seed_id,
                  CASE WHEN d.cell IS NOT NULL AND d.d > 0.02
                       THEN d.mv ELSE s.sv END AS sv,
                  coalesce(d.cell IS NOT NULL AND d.d > 0.02, false)
                    AS retrained
           FROM seeds s LEFT JOIN drift d ON d.cell = s.seed_id),
         remem AS (SELECT a.vec_id FROM assigned a
                   JOIN newseeds ns ON ns.seed_id = a.cell
                   WHERE ns.retrained),
         reass AS (
           SELECT vec_id, seed_id AS cell FROM (
             SELECT c.vec_id, ns.seed_id,
                    row_number() OVER (PARTITION BY c.vec_id
                      ORDER BY round(list_cosine_similarity(c.v, ns.sv), 4) DESC,
                               ns.seed_id ASC) AS rn
             FROM corpus c JOIN remem USING (vec_id)
             CROSS JOIN newseeds ns)
           WHERE rn = 1),
         final AS (
           SELECT vec_id, cell FROM assigned
           WHERE vec_id NOT IN (SELECT vec_id FROM reass)
           UNION ALL SELECT vec_id, cell FROM reass)
         SELECT ns.seed_id AS cell, count(f.vec_id) AS n, ns.retrained
         FROM newseeds ns LEFT JOIN final f ON f.cell = ns.seed_id
         GROUP BY 1, ns.retrained ORDER BY 1""",
    "llm_embedding_neardup" ->
      """WITH bands AS (
           SELECT vec_id, br.b AS band,
                  list_sum(list_transform(range(0, 8),
                    i -> CASE WHEN embedding[br.b * 8 + i + 1] >= 0
                              THEN cast(2 AS BIGINT) ** i ELSE 0 END)) AS bkey
           FROM embeddings, (SELECT unnest(range(3)) AS b) br),
         cand AS (
           SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
         scored AS (
           SELECT id_a, id_b,
                  round(list_cosine_similarity(
                    cast(a.embedding AS DOUBLE[]), cast(b.embedding AS DOUBLE[])), 4)
                    AS cos_sim
           FROM cand JOIN embeddings a ON id_a = a.vec_id
                     JOIN embeddings b ON id_b = b.vec_id)
         SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
         ORDER BY id_a, id_b""",
    "multimodal_features" ->
      """SELECT cast(doc_id AS BIGINT) AS media_id,
                cast(length(text) AS BIGINT) AS n_bytes,
                cast(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
                coalesce(list_reduce(
                  list_transform(range(1, length(text) + 1),
                    i -> cast(ascii(substr(text, cast(i AS INTEGER), 1)) AS BIGINT)),
                  (acc, x) -> (acc * 131 + x) % 1000000007), 0) AS checksum
         FROM documents ORDER BY media_id""",
    "multimodal_bmp_decode" ->
      """WITH k AS (SELECT c_custkey AS media_id,
                           c_custkey % 6 + 2 AS w, c_custkey % 4 + 2 AS h
                    FROM customer),
         xs AS (SELECT unnest(range(0, 8)) AS x),
         ys AS (SELECT unnest(range(0, 6)) AS y),
         px AS (SELECT media_id, w, h, x, y
                FROM k CROSS JOIN xs CROSS JOIN ys
                WHERE x < w AND y < h)
         SELECT media_id,
                cast(max(w) AS INTEGER) AS width,
                cast(max(h) AS INTEGER) AS height,
                24 AS bpp,
                cast(sum((media_id + 3 * (y * w + x)) % 256) AS BIGINT) AS sum_r,
                cast(sum((media_id * 5 + y + x) % 256) AS BIGINT) AS sum_g,
                cast(sum((media_id * 11 + y * x) % 256) AS BIGINT) AS sum_b,
                cast(max(CASE WHEN x = w - 1 AND y = 0
                              THEN (media_id + 3 * (y * w + x)) % 256 END)
                     AS INTEGER) AS topright_r
         FROM px GROUP BY media_id ORDER BY media_id""",
    "multimodal_binary_ingest" ->
      """WITH k AS (SELECT c_custkey AS media_id,
                           c_custkey % 6 + 2 AS w, c_custkey % 4 + 2 AS h
                    FROM customer),
         dims AS (SELECT media_id, w, h,
                         3 * w + (4 - (3 * w) % 4) % 4 AS stride
                  FROM k),
         xs AS (SELECT unnest(range(0, 8)) AS x),
         ys AS (SELECT unnest(range(0, 6)) AS y),
         px AS (SELECT media_id, w, h, x, y
                FROM k CROSS JOIN xs CROSS JOIN ys
                WHERE x < w AND y < h)
         SELECT p.media_id,
                cast(54 + d.stride * d.h AS BIGINT) AS n_bytes,
                cast(max(p.w) AS INTEGER) AS width,
                cast(max(p.h) AS INTEGER) AS height,
                cast(sum((p.media_id + 3 * (p.y * p.w + p.x)) % 256) AS BIGINT) AS sum_r,
                cast(sum((p.media_id * 5 + p.y + p.x) % 256) AS BIGINT) AS sum_g,
                cast(sum((p.media_id * 11 + p.y * p.x) % 256) AS BIGINT) AS sum_b,
                cast(max(CASE WHEN p.x = p.w - 1 AND p.y = 0
                              THEN (p.media_id + 3 * (p.y * p.w + p.x)) % 256 END)
                     AS INTEGER) AS topright_r
         FROM px p JOIN dims d ON p.media_id = d.media_id
         GROUP BY p.media_id, d.stride, d.h
         ORDER BY p.media_id""",
    "multimodal_frame_sample" ->
      """WITH k AS (SELECT c_custkey AS media_id,
                           c_custkey % 6 + 2 AS w, c_custkey % 5 + 2 AS nf
                    FROM customer),
         f AS (SELECT unnest(range(0, 6)) AS frame_idx),
         xs AS (SELECT unnest(range(0, 3)) AS xo),
         ys AS (SELECT unnest(range(0, 2)) AS yo),
         px AS (
           SELECT media_id, w, frame_idx, xo, yo,
                  (xo * w) // 3 AS sx,
                  frame_idx * 4 + (yo * 4) // 2 AS gy
           FROM k CROSS JOIN f CROSS JOIN xs CROSS JOIN ys
           WHERE frame_idx < nf AND frame_idx % 3 = 0)
         SELECT media_id, cast(frame_idx AS INTEGER) AS frame_idx,
                3 AS out_w, 2 AS out_h,
                cast(sum((media_id + 3 * (gy * w + sx)) % 256) AS BIGINT) AS sum_r,
                cast(sum((media_id * 5 + gy + sx) % 256) AS BIGINT) AS sum_g,
                cast(sum((media_id * 11 + gy * sx) % 256) AS BIGINT) AS sum_b,
                cast(max(CASE WHEN xo = 2 AND yo = 0
                              THEN (media_id + 3 * (gy * w + sx)) % 256 END)
                     AS INTEGER) AS topright_r
         FROM px GROUP BY media_id, frame_idx, w
         ORDER BY media_id, frame_idx""",
    "stream_daily_counts" ->
      """SELECT cast(date_trunc('day', ts) AS DATE) AS report_date, event_type,
                count(*) AS n_events
         FROM events GROUP BY 1, 2 ORDER BY report_date, event_type""",
    "stream_stateful_dedup" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "sql_graft_dot" ->
      """SELECT vec_id,
                round(list_reduce(
                  list_transform(cast(embedding AS DOUBLE[]), x -> x * x),
                  (a, b) -> a + b), 4) AS norm_sq
         FROM embeddings ORDER BY vec_id""")
}
