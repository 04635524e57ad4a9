package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7.4 + the builder prompt.
  *
  * Extraction queries run over pages synthesized deterministically from
  * the driver's read-only documents.parquet (PageSource.fromDocuments);
  * every derived field (url, warc epoch, paragraph structure) is
  * reconstructable in the DuckDB oracle SQL below, so the oracle checks
  * the full pipeline INCLUDING per-url byte-identity of extracted text
  * (`extract_pipeline` / `digest_output`).
  */
object SparkEntry {

  /** Flagship: the full fused extraction pipeline on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    Queries.extractPipeline(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // generic relational operators (driver tables)
    "q1_agg" -> (Queries.q1Agg _),
    "q_join_segment" -> (Queries.qJoinSegment _),
    "q_join_nation_region" -> (Queries.qJoinNationRegion _),
    "events_json" -> (Queries.eventsJson _),
    "events_window" -> (Queries.eventsWindow _),
    "docs_by_lang" -> (Queries.docsByLang _),
    // training-data ops: dedup / text analysis / similarity / multimodal
    "dedup_exact" -> (Queries.dedupExact _),
    "dedup_minhash" -> (Queries.dedupMinhash _),
    "dedup_simhash" -> (Queries.dedupSimhash _),
    "dedup_winnow" -> (Queries.dedupWinnowQ _),
    "mirror_hosts" -> (Queries.mirrorHostsQ _),
    "mirror_clusters" -> (Queries.mirrorClustersQ _),
    "dup_cluster" -> (Queries.dupCluster _),
    "dup_stats" -> (Queries.dupStats _),
    "dup_best" -> (Queries.dupBest _),
    "dup_weights" -> (Queries.dupWeights _),
    "host_dup_census" -> (Queries.hostDupCensus _),
    "split_leakfree" -> (Queries.splitLeakfree _),
    "curate_funnel" -> (Queries.curateFunnelQ _),
    "curate_funnel_auth" -> (Queries.curateFunnelAuthQ _),
    "curate_audit" -> (Queries.curateAuditQ _),
    "curate_funnel_cap" -> (Queries.curateFunnelCapQ _),
    "rep_ratio" -> (Queries.repRatio _),
    "shard_pack" -> (Queries.shardPack _),
    "seq_pack" -> (Queries.seqPack _),
    "bm25_search" -> (Queries.bm25SearchQ _),
    "hard_negatives" -> (Queries.hardNegativesQ _),
    "search_snippets" -> (Queries.searchSnippetsQ _),
    "bm25_prf" -> (Queries.bm25PrfQ _),
    "phrase_search" -> (Queries.phraseSearchQ _),
    "bm25_serve" -> (Queries.bm25ServeQ _),
    "bm25_delete" -> (Queries.bm25DeleteQ _),
    "phrase_serve" -> (Queries.phraseServeQ _),
    "hybrid_rrf" -> (Queries.hybridRrfQ _),
    "hybrid_serve" -> (Queries.hybridServeQ _),
    "hybrid_rerank" -> (Queries.hybridRerankQ _),
    "strat_sample" -> (Queries.stratSample _),
    "quota_sample" -> (Queries.quotaSampleQ _),
    "chunk_overlap" -> (Queries.chunkOverlapQ _),
    "decontaminate_embed" -> (Queries.decontaminateEmbedQ _),
    "url_normalize" -> (Queries.urlNormalizeQ _),
    "host_parse" -> (Queries.hostParseQ _),
    "host_cap" -> (Queries.hostCapQ _),
    "pii_scrub" -> (Queries.piiScrubQ _),
    "oov_ratio" -> (Queries.oovRatioQ _),
    "ttr_census" -> (Queries.ttrCensusQ _),
    "zipf_census" -> (Queries.zipfCensusQ _),
    "lm_score" -> (Queries.lmScoreQ _),
    "ppl_buckets" -> (Queries.pplBucketsQ _),
    "gopher_rep" -> (Queries.gopherRepQ _),
    "quality_gate" -> (Queries.qualityGateQ _),
    "cms_census" -> (Queries.cmsCensusQ _),
    "text_clean" -> (Queries.textCleanQ _),
    "tfidf_topterms" -> (Queries.tfidfTopTermsQ _),
    "mix_balance" -> (Queries.mixBalanceQ _),
    "decontaminate" -> (Queries.decontaminateQ _),
    "decontaminate_bloom" -> (Queries.decontaminateBloomQ _),
    "decontaminate_cut" -> (Queries.decontaminateCutQ _),
    "decontaminate_report" -> (Queries.decontamReportQ _),
    "decontaminate_fuzzy" -> (Queries.decontaminateFuzzyQ _),
    "mix_temperature" -> (Queries.mixTemperatureQ _),
    "mix_sample" -> (Queries.mixSampleQ _),
    "mix_unimax" -> (Queries.mixUnimaxQ _),
    "mix_unimax_sample" -> (Queries.mixUnimaxSampleQ _),
    "mix_unimax_tokens" -> (Queries.mixUnimaxTokensQ _),
    "mix_tokens" -> (Queries.mixTokensQ _),
    "mix_domains" -> (Queries.mixDomainsQ _),
    "ngram_census" -> (Queries.ngramCensusQ _),
    "passage_dedup" -> (Queries.passageDedupQ _),
    "dedup_spans" -> (Queries.dedupSpansQ _),
    "dedup_cut" -> (Queries.dedupCutQ _),
    "neardup_search" -> (Queries.neardupSearchQ _),
    "line_dedup" -> (Queries.lineDedupQ _),
    "bpe_train" -> (Queries.bpeTrainQ _),
    "bpe_encode" -> (Queries.bpeEncodeQ _),
    "ngram_jaccard" -> (Queries.ngramJaccard _),
    "token_count" -> (Queries.tokenCount _),
    "quality_score" -> (Queries.qualityScore _),
    "quality_classify" -> (Queries.qualityClassifyQ _),
    "dsir_weights" -> (Queries.dsirWeightsQ _),
    "dsir_sample" -> (Queries.dsirSampleQ _),
    "quality_train" -> (Queries.qualityTrainQ _),
    "quality_eval" -> (Queries.qualityEvalQ _),
    "lang_id" -> (Queries.langIdQ _),
    "doc_fingerprint" -> (Queries.fingerprintQ _),
    "ann_cosine" -> (Queries.annCosine _),
    "ann_lsh" -> (Queries.annLsh _),
    "ann_lsh_filtered" -> (Queries.annLshFiltered _),
    "ann_lsh_serve" -> (Queries.annLshServe _),
    "ann_lsh_delete" -> (Queries.annLshDeleteQ _),
    "ann_ivf" -> (Queries.annIvf _),
    "ann_ivf_serve" -> (Queries.annIvfServe _),
    "ann_pq" -> (Queries.annPq _),
    "ann_sq" -> (Queries.annSq _),
    "ann_sq_serve" -> (Queries.annSqServe _),
    "ann_pq_serve" -> (Queries.annPqServe _),
    "ann_ivfpq" -> (Queries.annIvfPq _),
    "ann_ivfpq_serve" -> (Queries.annIvfPqServe _),
    "embed_cluster" -> (Queries.embedClusterQ _),
    "cluster_sample" -> (Queries.clusterSampleQ _),
    "zorder_layout" -> (Queries.zorderLayoutQ _),
    "ann_recall" -> (Queries.annRecall _),
    "dedup_embedding" -> (Queries.dedupEmbedding _),
    "dedup_semantic" -> (Queries.semDedupQ _),
    "embed_stats" -> (Queries.embedStats _),
    "mm_decode_stub" -> (Queries.mmDecodeStub _),
    "mm_resize" -> (Queries.mmResize _),
    "mm_embed" -> (Queries.mmEmbed _),
    "mm_segments" -> (Queries.mmSegments _),
    // extraction pipeline operators (pages derived from documents)
    "scan_pages" -> (Queries.scanPages _),
    "filter_nonempty" -> (Queries.filterNonempty _),
    "filter_lang" -> (Queries.filterLang _),
    "tokenize_blocks" -> (Queries.tokenizeBlocks _),
    "score_blocks" -> (Queries.scoreBlocks _),
    "group_regions" -> (Queries.groupRegions _),
    "assemble_spans" -> (Queries.assembleSpans _),
    "spans_view" -> (Queries.spansView _),
    "extract_pipeline" -> (Queries.extractPipeline _),
    "extract_pdf" -> (Queries.extractPdf _),
    "extract_warc" -> (Queries.extractWarc _),
    "digest_output" -> (Queries.digestOutput _),
    "dedup_latest" -> (Queries.latestSnapshots _),
    "metrics_by_host" -> (Queries.metricsByHost _),
    "skew_topk" -> (Queries.skewTopk _),
    "host_cost" -> (Queries.hostCost _),
    "skew_quantiles" -> (Queries.skewQuantiles _),
    "approx_distinct" -> (Queries.approxDistinct _),
    "score_histogram" -> (Queries.scoreHistogram _),
    "resume_antijoin" -> (Queries.resumeAntijoin _),
    "repartition_range" -> (Queries.repartitionRange _),
    "salted_partition" -> (Queries.saltedPartition _),
    "project_prune" -> (Queries.projectPrune _),
    "salted_join" -> (Queries.saltedJoin _),
    "q_subquery" -> (Queries.qSubquery _),
    "q_rollup" -> (Queries.qRollup _),
    "q_groupingsets" -> (Queries.qGroupingSets _),
    "q_exists" -> (Queries.qExists _),
    "q_antijoin" -> (Queries.qAntijoin _),
    "q_windowframe" -> (Queries.qWindowFrame _),
    "q_pivot" -> (Queries.qPivot _),
    "q_setops" -> (Queries.qSetOps _),
    "events_sessions" -> (Queries.eventsSessions _),
    "events_asof" -> (Queries.eventsAsof _),
    "events_range" -> (Queries.eventsRange _),
    "host_rank" -> (Queries.hostRankQ _),
    "link_hosts" -> (Queries.linkHostsQ _),
    "link_rank" -> (Queries.linkRankQ _),
    "label_prop" -> (Queries.labelPropQ _),
    "host_scorecard" -> (Queries.hostScorecardQ _),
    "canonical_dedup" -> (Queries.canonicalDedupQ _),
    "robots_gate" -> (Queries.robotsGateQ _),
    "extract_title" -> (Queries.extractTitleQ _),
    "pack_efficiency" -> (Queries.packEfficiencyQ _),
    "mm_frames" -> (Queries.mmFrames _)
  )

  // ------------------------------------------------------------------
  // DuckDB oracle SQL (same parquet tables). Shared fragments:
  // ------------------------------------------------------------------
  /** word count of single-space-separated text */
  private val nw = "(length(text) - length(replace(text, ' ', '')) + 1)"

  /** Shallow-quality kernel fragments shared by the quality_score row
    * and the host_scorecard composition (ONE definition each; the
    * quality_score string is byte-identical across the factoring —
    * re-diff oracle_sql.json if these are touched). `npSql` keeps the
    * original literal's internal line break so the assembled bytes
    * cannot move.
    */
  private val npSql =
    "length(text) - length(replace(replace(replace(replace(replace(replace(\n" +
      "           text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', ''))"
  private val isQualitySql =
    "(nw >= 10 AND ((n_chars - (nw - 1)) * 100) // nw BETWEEN 200 AND 1200\n" +
      "   AND np * 5 <= n_chars)"
  /** paragraph count used by the page wrapper (8 words per <p>) */
  private val pCnt = s"(($nw + 7) // 8)"
  /** skewed host id of an arbitrary doc-id expression — mirror of
    * PageSource.hostId / GraphOps.hostIdCol
    */
  private def hidOf(x: String): String = OracleSqlGen.hidOfSql(x)
  private val hid = hidOf("doc_id")

  /** host_rank oracle: the integer PageRank loop of GraphOps.hostRank
    * UNROLLED — edges from the planted citation graph (target =
    * doc_id·31+7 mod n), per-edge contribution divided BEFORE the
    * inflow sum (truncating `//` == Spark DIV on non-negatives), CAST
    * to BIGINT every round (DuckDB sum widens to HUGEINT).
    */
  /** @param dstExpr dst-host id expression of the edge rule: default =
    *   host_rank's planted citation (mod n); link_rank passes the
    *   markup out-link's rule (no mod — PageSource.linkTargetHost).
    *   The default branch's generated string is byte-identical to the
    *   historical one-arg form.
    */
  private def hostRankSql(iters: Int,
      dstExpr: String = "(doc_id * 31 + 7) % (SELECT count(*) FROM documents)"): String = {
    def hostOf(x: String) = s"'host' || CAST(${hidOf(x)} AS VARCHAR) || '.example'"
    val rounds = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nodes.host,
         |    CAST(150 + COALESCE(s.inflow, 0) AS BIGINT) AS rank_milli
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS host,
         |           sum(r.rank_milli * 850 * e.w // (1000 * o.od)) AS inflow
         |    FROM edges e JOIN outdeg o USING (src)
         |    JOIN r${k - 1} r ON r.host = e.src
         |    GROUP BY e.dst) s USING (host))""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
       |e0 AS (
       |  SELECT ${hostOf("doc_id")} AS src,
       |         ${hostOf(dstExpr)} AS dst
       |  FROM d),
       |edges AS (SELECT src, dst, count(*) AS w FROM e0 WHERE src <> dst GROUP BY src, dst),
       |outdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS od FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT ${hostOf("doc_id")} AS host FROM d),
       |r0 AS (SELECT host, CAST(1000 AS BIGINT) AS rank_milli FROM nodes),
       |$rounds
       |SELECT host, rank_milli FROM r$iters
       |ORDER BY rank_milli DESC, host ASC""".stripMargin
  }
  /** label_prop oracle: the weighted-majority adoption loop of
    * GraphOps.labelProp UNROLLED — edges from the markup out-link rule
    * (link_rank's planted arithmetic, self-edges dropped inside the
    * edge CTE exactly like the kernel), seeds hid ≡ 3 mod 7 → label
    * hid % 3, clamped every round; adoption = argmax by (weight sum
    * desc, label asc); -1 = unlabeled (the GraphOps.Unlabeled
    * sentinel).
    */
  private def labelPropSql(iters: Int): String =
    s"""WITH ${labelPropCtes(iters)}
       |SELECT 'host' || CAST(hid AS VARCHAR) || '.example' AS host, label
       |FROM l$iters ORDER BY host""".stripMargin

  /** The label_prop WITH-body, ending in `l<iters>(hid, label)` — ONE
    * generated loop shared by the label_prop row and the mix_domains
    * composition (OracleSqlGen.mixDomains embeds it): a seed-rule or
    * adoption change hits both rows.
    */
  private def labelPropCtes(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""l$k AS (
         |  SELECT n.hid, CAST(COALESCE(s.seed_label, a.cand, -1) AS BIGINT) AS label
         |  FROM nodes n LEFT JOIN seeds s USING (hid)
         |  LEFT JOIN (
         |    SELECT hid, cand FROM (
         |      SELECT e.dst AS hid, l.label AS cand, sum(e.w) AS wsum,
         |             row_number() OVER (PARTITION BY e.dst ORDER BY sum(e.w) DESC, l.label ASC) AS rn
         |      FROM edges e JOIN l${k - 1} l ON l.hid = e.src AND l.label >= 0
         |      GROUP BY e.dst, l.label) t WHERE rn = 1) a USING (hid))""".stripMargin
    }.mkString(",\n")
    s"""d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
       |e0 AS (SELECT ${hidOf("doc_id")} AS src, ${hidOf("(doc_id * 31 + 7)")} AS dst FROM d),
       |edges AS (SELECT src, dst, count(*) AS w FROM e0 WHERE src <> dst GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT ${hidOf("doc_id")} AS hid FROM d),
       |seeds AS (SELECT hid, CAST(hid % 3 AS BIGINT) AS seed_label FROM nodes WHERE hid % 7 = 3),
       |l0 AS (SELECT n.hid, CAST(COALESCE(s.seed_label, -1) AS BIGINT) AS label
       |       FROM nodes n LEFT JOIN seeds s USING (hid)),
       |$rounds""".stripMargin
  }

  /** page url — mirror of PageSource.urlOf */
  private val urlSql =
    s"'https://host' || CAST($hid AS VARCHAR) || '.example/p/' || CAST(doc_id AS VARCHAR)"
  private val hostSql = s"'host' || CAST($hid AS VARCHAR) || '.example'"

  /** url_normalize mirror body (no trailing ORDER BY): the messy
    * synth + step-for-step normalizer — reused by the url_normalize
    * and host_parse oracles.
    */
  private val urlNormalizeSql =
    s"""WITH m AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    CASE CAST(doc_id % 4 AS INTEGER)
       |      WHEN 0 THEN $urlSql || '#section-2'
       |      WHEN 1 THEN upper('https://host' || CAST($hid AS VARCHAR) || '.example') || '/p/' || CAST(doc_id AS VARCHAR)
       |      WHEN 2 THEN 'https://host' || CAST($hid AS VARCHAR) || '.example:443/p/' || CAST(doc_id AS VARCHAR)
       |      ELSE $urlSql || '?b=2&a=1' END AS url_messy
       |  FROM documents),
       |n1 AS (SELECT doc_id, url_messy, split_part(url_messy, '#', 1) AS norm1 FROM m),
       |n2 AS (SELECT *, split_part(norm1, '?', 1) AS base,
       |       CASE WHEN instr(norm1, '?') > 0 THEN substring(norm1, CAST(instr(norm1, '?') + 1 AS INTEGER)) ELSE '' END AS query
       |       FROM n1),
       |n3 AS (SELECT *, CAST(instr(substring(base, 9), '/') AS INTEGER) AS slash FROM n2),
       |n4 AS (SELECT *, lower(substring(base, 1, 8 + slash - 1)) AS auth,
       |       substring(base, 8 + slash) AS path FROM n3),
       |n5 AS (SELECT *, CASE WHEN auth LIKE '%:443' THEN substring(auth, 1, length(auth) - 4) ELSE auth END AS auth2 FROM n4)
       |SELECT doc_id, url_messy,
       |  auth2 || path || CASE WHEN query = '' THEN ''
       |    ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END AS url_norm
       |FROM n5""".stripMargin

  /** Shared by `decontaminate` AND `decontaminate_bloom` — the Bloom
    * variant is exactness-preserving (pre-filter + confirm join), so
    * one oracle checks both.
    */
  private val decontaminateSql: String =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000001 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |g AS (
      |  SELECT doc_id, doc_id % 50 = 0 AS is_eval, u.gram
      |  FROM corpus, UNNEST(list_distinct(list_transform(
      |    range(len(string_split(text, ' ')) - 7),
      |    i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))) AS u(gram)),
      |ev AS (SELECT DISTINCT gram FROM g WHERE is_eval)
      |SELECT doc_id, count(*) AS n_shared_ngrams
      |FROM g JOIN ev USING (gram) WHERE NOT is_eval
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Span-CUT decontamination mirror (TextOps.decontaminateCut
    * recomputed): the same planted corpus, 8-word windows over
    * filtered word lists, contaminated positions = windows matching
    * any eval gram, gaps-and-islands merge, one coverage row per cut
    * position, kept words by position anti-join, clean_text re-joined
    * in position order (the dedup_cut chain shape with an eval-driven
    * dup set).
    */
  private val decontaminateCutSql: String =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000001 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |pw AS (SELECT doc_id, doc_id % 50 = 0 AS is_eval,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corpus),
      |win AS (
      |  SELECT doc_id, is_eval, CAST(u.i AS BIGINT) AS pos,
      |    array_to_string(ws[CAST(u.i+1 AS INTEGER):CAST(u.i+8 AS INTEGER)], ' ') AS gram
      |  FROM pw, UNNEST(range(greatest(len(ws) - 7, 0))) AS u(i)),
      |ev AS (SELECT DISTINCT gram FROM win WHERE is_eval),
      |dw2 AS (SELECT w.doc_id, w.pos FROM win w JOIN ev USING (gram)
      |        WHERE NOT w.is_eval),
      |isl AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
      |         THEN 1 ELSE 0 END AS brk
      |  FROM dw2),
      |isl2 AS (
      |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM isl),
      |sp2 AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 8 AS e
      |        FROM isl2 GROUP BY doc_id, island),
      |cov AS (SELECT doc_id, s + u.i AS p FROM sp2, UNNEST(range(e - s)) AS u(i)),
      |wordsq AS (
      |  SELECT doc_id, CAST(u.i AS BIGINT) AS p, ws[CAST(u.i+1 AS INTEGER)] AS word
      |  FROM pw, UNNEST(range(len(ws))) AS u(i) WHERE NOT is_eval),
      |keptw AS (
      |  SELECT wq.doc_id, wq.p, wq.word FROM wordsq wq
      |  LEFT JOIN cov c ON wq.doc_id = c.doc_id AND wq.p = c.p
      |  WHERE c.p IS NULL),
      |cl AS (SELECT doc_id, count(*) AS n_kept,
      |              string_agg(word, ' ' ORDER BY p) AS clean_text
      |       FROM keptw GROUP BY doc_id)
      |SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
      |  CAST(b.n_words - coalesce(cl.n_kept, 0) AS BIGINT) AS n_cut,
      |  coalesce(cl.clean_text, '') AS clean_text
      |FROM (SELECT doc_id, len(ws) AS n_words FROM pw WHERE NOT is_eval) b
      |LEFT JOIN cl USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  /** Eval-side contamination-census mirror (TextOps.decontamReport
    * recomputed): the decontaminate gram CTE, leaks attributed back
    * to eval docs through a LEFT JOIN, distinct-counted per eval doc.
    */
  private val decontamReportSql: String =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000001 AS doc_id, text FROM documents WHERE doc_id % 50 = 0),
      |g AS (
      |  SELECT doc_id, doc_id % 50 = 0 AS is_eval, u.gram
      |  FROM corpus, UNNEST(list_distinct(list_transform(
      |    range(len(string_split(text, ' ')) - 7),
      |    i -> array_to_string(string_split(text, ' ')[i+1:i+8], ' ')))) AS u(gram)),
      |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE is_eval),
      |tr AS (SELECT doc_id AS src_id, gram FROM g WHERE NOT is_eval),
      |j AS (SELECT e.eval_id, e.gram, t.src_id FROM ev e LEFT JOIN tr t USING (gram))
      |SELECT eval_id AS doc_id,
      |  CAST(count(DISTINCT gram) AS BIGINT) AS n_grams,
      |  CAST(count(DISTINCT CASE WHEN src_id IS NOT NULL THEN gram END) AS BIGINT) AS n_leaked,
      |  CAST(count(DISTINCT src_id) AS BIGINT) AS n_src_docs,
      |  CAST(count(DISTINCT CASE WHEN src_id IS NOT NULL THEN gram END) * 1000
      |       // count(DISTINCT gram) AS BIGINT) AS leak_permille
      |FROM j GROUP BY eval_id ORDER BY eval_id""".stripMargin

  /** Self-trained bigram-LM fluency mirror (TextOps.lmScore),
    * parameterized by the source relation: SHARED by the lm_score row
    * (src = documents — byte-identical to the historical literal), by
    * ppl_buckets (derived table over documents) and by quality_gate
    * (derived table over its planted corpus CTE) — a smoothing or
    * scoring change hits all three.
    */
  private def lmScoreSqlFrom(src: String): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |wc AS (
       |  SELECT u.x AS w1, count(*) AS c1
       |  FROM t, UNNEST(w) AS u(x) GROUP BY u.x),
       |bg AS (
       |  SELECT doc_id, w[CAST(i AS INTEGER)+1] AS w1, w[CAST(i AS INTEGER)+2] AS w2
       |  FROM t, UNNEST(range(len(w) - 1)) AS r(i)),
       |bc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
       |sc AS (
       |  SELECT bg.doc_id, bc.cb * 1000 // (wc.c1 + 4) AS p
       |  FROM bg JOIN bc USING (w1, w2) JOIN wc USING (w1)),
       |agg AS (SELECT doc_id, count(*) AS nb, sum(p) AS sp FROM sc GROUP BY doc_id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |  CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(sp // nb, 0) AS BIGINT) AS lm_permille
       |FROM $src d LEFT JOIN agg ON d.doc_id = agg.doc_id
       |ORDER BY doc_id""".stripMargin

  private val lmScoreSql: String = lmScoreSqlFrom("documents")

  /** CCNet-style perplexity-bucket census mirror (TextOps.pplBuckets):
    * the full lm_score mirror as a derived table, per-lang tercile
    * THRESHOLDS from a descending cumulative score histogram
    * (t_k = max score whose >=-score doc count reaches ceil(kN/3)),
    * then the threshold-bucket census. The window cumsum widens to
    * HUGEINT internally but never reaches the output.
    */
  private val pplBucketsSql: String =
    s"""WITH j AS (
       |  SELECT sc.doc_id, sc.lm_permille, d.lang
       |  FROM (
       |$lmScoreSql) sc
       |  JOIN (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents) d
       |    USING (doc_id)),
       |h AS (SELECT lang, lm_permille, count(*) AS c FROM j GROUP BY lang, lm_permille),
       |cum AS (
       |  SELECT lang, lm_permille,
       |    sum(c) OVER (PARTITION BY lang ORDER BY lm_permille DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM h),
       |nn AS (SELECT lang, count(*) AS n FROM j GROUP BY lang),
       |th AS (
       |  SELECT cum.lang,
       |    max(CASE WHEN cum >= (n + 2) // 3 THEN lm_permille END) AS t1,
       |    max(CASE WHEN cum >= (2 * n + 2) // 3 THEN lm_permille END) AS t2
       |  FROM cum JOIN nn USING (lang) GROUP BY cum.lang),
       |lab AS (
       |  SELECT j.lang,
       |    CASE WHEN lm_permille >= t1 THEN 'head'
       |         WHEN lm_permille >= t2 THEN 'middle'
       |         ELSE 'tail' END AS bucket,
       |    lm_permille
       |  FROM j JOIN th USING (lang))
       |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(min(lm_permille) AS BIGINT) AS min_permille,
       |  CAST(max(lm_permille) AS BIGINT) AS max_permille
       |FROM lab GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  /** Within-doc duplicate n-gram coverage mirror (TextOps.gopherRep):
    * per n in {2, 5}, positions covered by an n-gram repeated >= 2
    * times INSIDE the doc, distinct-counted, permille of word count.
    * Corpus plants loop-tail pages (doc_id % 7 == 3 re-appends its
    * first 12 words) so the 5-gram rule has positives.
    */
  private val gopherRepSql: String =
    """WITH corpus AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CASE WHEN doc_id % 7 = 3
      |         THEN text || ' ' || array_to_string(string_split(text, ' ')[1:12], ' ')
      |         ELSE text END AS text
      |  FROM documents),
      |pw AS (SELECT doc_id,
      |         list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corpus),
      |w2 AS (
      |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
      |    array_to_string(ws[CAST(u.i+1 AS INTEGER):CAST(u.i+2 AS INTEGER)], ' ') AS g
      |  FROM pw, UNNEST(range(greatest(len(ws) - 1, 0))) AS u(i)),
      |c2 AS (SELECT doc_id, g FROM w2 GROUP BY doc_id, g HAVING count(*) >= 2),
      |d2 AS (SELECT DISTINCT w2.doc_id, w2.pos + u.j AS p
      |       FROM w2 JOIN c2 USING (doc_id, g), UNNEST(range(2)) AS u(j)),
      |s2 AS (SELECT doc_id, count(*) AS cov2 FROM d2 GROUP BY doc_id),
      |w5 AS (
      |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
      |    array_to_string(ws[CAST(u.i+1 AS INTEGER):CAST(u.i+5 AS INTEGER)], ' ') AS g
      |  FROM pw, UNNEST(range(greatest(len(ws) - 4, 0))) AS u(i)),
      |c5 AS (SELECT doc_id, g FROM w5 GROUP BY doc_id, g HAVING count(*) >= 2),
      |d5 AS (SELECT DISTINCT w5.doc_id, w5.pos + u.j AS p
      |       FROM w5 JOIN c5 USING (doc_id, g), UNNEST(range(5)) AS u(j)),
      |s5 AS (SELECT doc_id, count(*) AS cov5 FROM d5 GROUP BY doc_id)
      |SELECT p.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(CASE WHEN len(ws) = 0 THEN 0
      |       ELSE coalesce(cov2, 0) * 1000 // len(ws) END AS BIGINT) AS dup2_permille,
      |  CAST(CASE WHEN len(ws) = 0 THEN 0
      |       ELSE coalesce(cov5, 0) * 1000 // len(ws) END AS BIGINT) AS dup5_permille
      |FROM pw p LEFT JOIN s2 USING (doc_id) LEFT JOIN s5 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Composed quality-gate mirror (TextOps.qualityGate recomputed):
    * the planted four-class corpus (short trunc / punct run / long-word
    * page / loop tail), shallow features inline (quality_score's
    * conventions: unfiltered split, nested-replace punct count,
    * integer avg word len), the gopherRep 5-gram coverage chain over
    * FILTERED words, and the lm mirror as a derived table over the
    * corpus CTE (lmScoreSqlFrom — one string with lm_score /
    * ppl_buckets). First failing rule in fixed order wins.
    */
  private val qualityGateSql: String =
    s"""WITH corpus AS (
       |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    CASE WHEN doc_id % 97 = 1
       |           THEN array_to_string(string_split(text, ' ')[1:4], ' ')
       |         WHEN doc_id % 89 = 2
       |           THEN text || ' ' || repeat('.', length(text))
       |         WHEN doc_id % 83 = 4
       |           THEN rtrim(repeat(repeat('x', 40) || ' ', 12))
       |         WHEN doc_id % 7 = 3
       |           THEN text || ' ' || array_to_string(string_split(text, ' ')[1:12], ' ')
       |         ELSE text END AS text
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, length(text) AS n_chars,
       |    len(string_split(text, ' ')) AS nt,
       |    len(list_distinct(string_split(text, ' '))) AS nd,
       |    length(text) - length(replace(replace(replace(replace(replace(replace(
       |      text, '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS np,
       |    ((length(text) - (len(string_split(text, ' ')) - 1)) * 100)
       |      // len(string_split(text, ' ')) AS awl
       |  FROM corpus),
       |pw AS (SELECT doc_id,
       |         list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corpus),
       |w5 AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
       |    array_to_string(ws[CAST(u.i+1 AS INTEGER):CAST(u.i+5 AS INTEGER)], ' ') AS g
       |  FROM pw, UNNEST(range(greatest(len(ws) - 4, 0))) AS u(i)),
       |c5 AS (SELECT doc_id, g FROM w5 GROUP BY doc_id, g HAVING count(*) >= 2),
       |d5 AS (SELECT DISTINCT w5.doc_id, w5.pos + u.j AS p
       |       FROM w5 JOIN c5 USING (doc_id, g), UNNEST(range(5)) AS u(j)),
       |s5 AS (SELECT doc_id, count(*) AS cov5 FROM d5 GROUP BY doc_id),
       |g5 AS (
       |  SELECT pw.doc_id,
       |    CASE WHEN len(ws) = 0 THEN 0
       |         ELSE coalesce(cov5, 0) * 1000 // len(ws) END AS dup5
       |  FROM pw LEFT JOIN s5 USING (doc_id)),
       |lm AS (SELECT doc_id, lm_permille FROM (
       |${lmScoreSqlFrom("corpus")}) t)
       |SELECT f.doc_id, CAST(f.nt AS BIGINT) AS n_words,
       |  CASE WHEN f.nt < 10 THEN 'short'
       |       WHEN f.np * 5 > f.n_chars THEN 'punct'
       |       WHEN f.awl NOT BETWEEN 200 AND 1200 THEN 'word_len'
       |       WHEN f.nd * 2 <= f.nt THEN 'repetitive'
       |       WHEN g5.dup5 >= 200 THEN 'loop'
       |       WHEN lm.lm_permille < 30 THEN 'gibberish'
       |       ELSE 'pass' END AS verdict
       |FROM feats f JOIN g5 USING (doc_id) JOIN lm USING (doc_id)
       |ORDER BY f.doc_id""".stripMargin

  /** BM25-variant lexical retrieval mirror: replays
    * SearchOps.bm25From token-for-token — milli fixed-point
    * k1=1200/b=750, reciprocal idf (N*1000 // df, clamped 10^7),
    * truncating `//` == Spark DIV on the all-non-negative operands;
    * per-query row_number top-10; avgdl_milli = (sum(dl)*1000)//n
    * exactly as the driver computes it from the scalar pass. SHARED by
    * bm25_search (in-memory) and bm25_serve (stored-index path) — the
    * kernel is the same code, so both check against this one SQL; a
    * scoring change hits TWO oracle rows.
    */
  private def bm25SqlWith(survPred: Option[String],
                          corpusCte: Option[String] = None,
                          exclCtes: Option[String] = None,
                          preCtes: Option[String] = None,
                          qBody: Option[String] = None): String = {
    // the INDEXED corpus (scal + p CTEs) shrinks to the survivors; the
    // query batch (q) stays over ALL documents — deleting a doc from
    // the index must not delete its queries. survPred=None generates
    // the historical bm25Sql byte-identically (string-diffed at
    // introduction; SparkEntrySpec pins it). corpusCte substitutes a
    // full named corpus CTE instead of a survivor predicate
    // (hard_negatives scores over the near-dup-augmented corpus);
    // exclCtes appends CTEs ending in excl(query_id, doc_id) whose
    // pairs are anti-joined out of the scored relation BEFORE the
    // rank window (exclusion after ranking would leave positives
    // occupying top-k slots). Default branches of both new params are
    // byte-identical to the historical template (string-diffed at
    // introduction via oracle_sql.json).
    val (head, corpus) = (survPred, corpusCte) match {
      case (Some(p), None) =>
        (s"WITH corpus AS (SELECT * FROM documents WHERE $p),\nscal AS (", "corpus")
      case (None, Some(c)) =>
        (s"WITH $c,\nscal AS (", "corpus")
      case (None, None) => ("WITH scal AS (", "documents")
      case _ => sys.error("survPred and corpusCte are mutually exclusive")
    }
    val (exclCte, fromSc) = exclCtes match {
      case Some(e) => (s",\n$e",
        "(SELECT sc.* FROM sc WHERE NOT EXISTS (SELECT 1 FROM excl e\n" +
          "  WHERE e.query_id = sc.query_id AND e.doc_id = sc.doc_id)) sc")
      case None => ("", "sc")
    }
    // preCtes injects helper CTEs between scal and q (bm25_prf's
    // feedback/mining chain); qBody replaces the q CTE's inner SELECT
    // (bm25_prf queries with the EXPANDED term set). Both default
    // branches are byte-identical to the historical template.
    val pre = preCtes.map(p => s"$p,\n").getOrElse("")
    val qSel = qBody.getOrElse(
      "  SELECT CAST(doc_id AS BIGINT) AS query_id, u.term\n" +
        "  FROM documents,\n" +
        "    UNNEST(list_distinct(string_split(text, ' ')[2:6])) AS u(term)\n" +
        "  WHERE doc_id % 101 = 0")
    s"""$head
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sdl
      |  FROM $corpus),
      |${pre}q AS (
      |$qSel),
      |p AS (
      |  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, u.term
      |        FROM $corpus, UNNEST(string_split(text, ' ')) AS u(term))
      |  WHERE term IN (SELECT DISTINCT term FROM q)
      |  GROUP BY doc_id, dl, term),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS dfc FROM p GROUP BY term),
      |sc AS (
      |  SELECT q.query_id, p.doc_id,
      |    CAST(sum((LEAST(scal.n * 1000 // dft.dfc, 10000000) *
      |      ((p.tf * 2200 * 1000000) // (p.tf * 1000 +
      |       (1200 * (250 + (750 * ((p.dl * 1000000) // (scal.sdl * 1000 // scal.n))) // 1000)) // 1000))
      |      ) // 1000) AS BIGINT) AS score_micro
      |  FROM p JOIN dft USING (term) JOIN q USING (term) CROSS JOIN scal
      |  GROUP BY q.query_id, p.doc_id)$exclCte
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, score_micro
      |FROM $fromSc
      |QUALIFY rank <= 10
      |ORDER BY query_id, rank""".stripMargin
  }

  /** bm25_prf mirror: the SAME template queried with the EXPANDED
    * term set — the feedback ranking embeds bm25Sql as a derived
    * table filtered to the top PrfFeedbackK (a prefix of the same
    * top-10 ordering), mining sums tf over feedback-doc postings
    * excluding original query terms (ties to the smaller term), and
    * the q CTE becomes q0 UNION expansion. A bm25 scoring or PRF
    * default change hits this row.
    */
  // lazy: embeds bm25Sql, which is declared below (object-val order)
  private lazy val prfSql: String = bm25SqlWith(None,
    preCtes = Some(
      s"""hits0 AS (SELECT query_id, doc_id FROM ($bm25Sql) fb
         |  WHERE rank <= ${graft.ops.SearchOps.PrfFeedbackK}),
         |q0 AS (
         |  SELECT CAST(doc_id AS BIGINT) AS query_id, u.term
         |  FROM documents,
         |    UNNEST(list_distinct(string_split(text, ' ')[2:6])) AS u(term)
         |  WHERE doc_id % 101 = 0),
         |posts AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, u.term
         |        FROM documents, UNNEST(string_split(text, ' ')) AS u(term)) dd
         |  WHERE doc_id IN (SELECT doc_id FROM hits0)
         |  GROUP BY doc_id, term),
         |cand AS (
         |  SELECT h.query_id, p2.term, CAST(sum(p2.tf) AS BIGINT) AS s
         |  FROM hits0 h JOIN posts p2 USING (doc_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM q0
         |    WHERE q0.query_id = h.query_id AND q0.term = p2.term)
         |  GROUP BY h.query_id, p2.term),
         |expn AS (
         |  SELECT query_id, term FROM (
         |    SELECT query_id, term,
         |      row_number() OVER (PARTITION BY query_id ORDER BY s DESC, term) AS rn
         |    FROM cand) t WHERE rn <= ${graft.ops.SearchOps.PrfExpandN})""".stripMargin),
    qBody = Some(
      "  SELECT query_id, term FROM q0\n" +
        "  UNION\n" +
        "  SELECT query_id, term FROM expn"))

  /** hard_negatives mirror: the bm25 template re-corpused to the
    * near-dup-augmented corpus, with the capped neardup band/verify
    * chain (x = the % 101 base-doc query slice; the < 1000000 guard
    * keeps +1e6 mutants whose shifted id happens to clear % 101 out
    * of the query side) plus the self pair feeding the pre-rank
    * exclusion — a bm25, band-geometry or dup-corpus change hits
    * this row too.
    */
  private val hardNegativesSql: String = bm25SqlWith(None,
    corpusCte = Some(OracleSqlGen.nearDupCorpusCte),
    exclCtes = Some(
      OracleSqlGen.cappedNeardupChain(
        "x.doc_id % 101 = 0 AND x.doc_id < 1000000 AND x.doc_id <> y.doc_id" +
          s" AND y.cnt <= ${graft.ops.TextOps.MinhashMaxBucket}") +
        """,
          |excl AS (
          |  SELECT doc_a AS query_id, doc_b AS doc_id
          |  FROM jac WHERE jaccard_milli >= 700
          |  UNION ALL
          |  SELECT CAST(doc_id AS BIGINT) AS query_id,
          |         CAST(doc_id AS BIGINT) AS doc_id
          |  FROM documents WHERE doc_id % 101 = 0)""".stripMargin))

  private val bm25Sql: String = bm25SqlWith(None)

  /** Exact-phrase retrieval mirror: the positional anchor join
    * replayed over the same whitespace token stream — every phrase =
    * tokens 3..5 of each doc_id % 97 == 0 doc (Queries.phraseQueriesOf
    * slice); a token at pos matching phrase offset off votes anchor
    * pos-off, an anchor with every distinct offset voting is one
    * occurrence; all integer arithmetic, rank ties (n_occ DESC,
    * doc_id). SHARED by phrase_search (in-memory, tokens exploded from
    * text) and phrase_serve (stored positional artifact) — the
    * anchor-join kernel (SearchOps.phraseFrom) is the same code on
    * both paths, so a kernel change hits TWO oracle rows.
    */
  private val phraseSql: String =
    """WITH toks AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |         string_split(text, ' ')[i.i + 1] AS term,
      |         CAST(i.i AS BIGINT) AS pos
      |  FROM documents, UNNEST(range(len(string_split(text, ' ')))) AS i(i)),
      |phr AS (
      |  SELECT CAST(doc_id AS BIGINT) AS query_id, CAST(j.j AS BIGINT) AS off,
      |         string_split(text, ' ')[3:5][j.j + 1] AS term
      |  FROM documents,
      |    UNNEST(range(len(string_split(text, ' ')[3:5]))) AS j(j)
      |  WHERE doc_id % 97 = 0),
      |plen AS (SELECT query_id, CAST(count(DISTINCT off) AS BIGINT) AS plen
      |         FROM phr GROUP BY query_id),
      |occ AS (
      |  SELECT a.query_id, a.doc_id, a.anchor
      |  FROM (SELECT p.query_id, t.doc_id, t.pos - p.off AS anchor, p.off
      |        FROM toks t JOIN phr p USING (term)) a
      |  JOIN plen USING (query_id)
      |  GROUP BY a.query_id, a.doc_id, a.anchor, plen.plen
      |  HAVING count(DISTINCT a.off) = plen.plen),
      |sc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occ
      |       FROM occ GROUP BY query_id, doc_id)
      |SELECT query_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY n_occ DESC, doc_id) AS BIGINT) AS rank,
      |  doc_id, n_occ
      |FROM sc
      |QUALIFY rank <= 10
      |ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_nation_region" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "events_json" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_window" ->
      """SELECT user_id, first_event_type FROM (
        |  SELECT user_id, event_type AS first_event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "docs_by_lang" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 20 = 0)
        |SELECT sha256(text) AS text_sha, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
        |       count(*) AS n_dups
        |FROM corpus GROUP BY sha256(text) ORDER BY text_sha""".stripMargin,
    // BPE-ish pattern mirrors TextOps.BpeTokenPattern (no lookaheads,
    // so Java regex and DuckDB's RE2 count identically on this corpus)
    "token_count" ->
      s"""SELECT doc_id, CAST($nw AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens_bpe
         |FROM documents ORDER BY doc_id""".stripMargin,
    // punctuation set mirrors TextOps.PunctChars (".,!?;:")
    "quality_score" ->
      s"""SELECT doc_id, n_chars, CAST(nw AS BIGINT) AS n_tokens,
         |  CAST(stop AS BIGINT) AS n_stopwords,
         |  CAST(np AS BIGINT) AS n_punct,
         |  CAST(((n_chars - (nw - 1)) * 100) // nw AS BIGINT) AS avg_word_len_c,
         |  $isQualitySql AS is_quality
         |FROM (
         |  SELECT doc_id, n_chars, $nw AS nw,
         |         len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS stop,
         |         $npSql AS np
         |  FROM documents) t ORDER BY doc_id""".stripMargin,
    "embed_stats" ->
      """SELECT label, count(*) AS n_vecs,
        |  CAST(min(len(embedding)) AS BIGINT) AS min_dim,
        |  CAST(max(len(embedding)) AS BIGINT) AS max_dim,
        |  CAST(sum(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
        |       * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS sum_norm_milli2,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec_id
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "mm_decode_stub" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(64 + strlen(text) % 512 AS INTEGER) AS width,
        |  CAST(64 + doc_id % 512 AS INTEGER) AS height,
        |  CAST(1 + strlen(text) % 10 AS INTEGER) AS n_frames,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    // aspect-preserving downscale plan over the stub-decoded dims
    // (positive integer division truncates == floors on both engines)
    "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(64 + strlen(text) % 512 AS BIGINT) AS w,
        |         CAST(64 + doc_id % 512 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(CASE WHEN w <= 256 AND h <= 256 THEN w
        |            WHEN w >= h THEN 256
        |            ELSE GREATEST(1, (w * 256) // h) END AS INTEGER) AS out_w,
        |  CAST(CASE WHEN w <= 256 AND h <= 256 THEN h
        |            WHEN w >= h THEN GREATEST(1, (h * 256) // w)
        |            ELSE 256 END AS INTEGER) AS out_h
        |FROM m ORDER BY doc_id""".stripMargin,
    "mm_embed" -> OracleSqlGen.mmEmbed,
    // overlapping audio-style windows over the stub duration: positive
    // integer ceil-div identical on both engines
    "mm_segments" ->
      """WITH d AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         1000 + strlen(text) % 60000 AS duration_ms
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, duration_ms,
        |         1 + GREATEST(0, (duration_ms - 10000 + 4999) // 5000) AS n_segments
        |  FROM d)
        |SELECT doc_id, CAST(r.i AS INTEGER) AS seg_idx,
        |  CAST(r.i * 5000 AS BIGINT) AS start_ms,
        |  CAST(LEAST(r.i * 5000 + 10000, duration_ms) AS BIGINT) AS end_ms
        |FROM n, UNNEST(range(n_segments)) AS r(i)
        |ORDER BY doc_id, seg_idx""".stripMargin,
    "scan_pages" ->
      s"SELECT $urlSql AS url, lang FROM documents ORDER BY url",
    "filter_nonempty" ->
      "SELECT count(*) AS n_pages FROM documents",
    "filter_lang" ->
      s"SELECT $urlSql AS url, lang FROM documents WHERE lang = 'en' ORDER BY url",
    "tokenize_blocks" ->
      s"""SELECT $urlSql AS url, CAST(p + 2 AS BIGINT) AS n_blocks,
         |  CAST(length(text) - (p - 1) AS BIGINT) AS content_chars,
         |  CAST(35 AS BIGINT) AS boiler_chars
         |FROM (SELECT doc_id, text, $pCnt AS p FROM documents) t
         |ORDER BY url""".stripMargin,
    "score_blocks" ->
      s"""SELECT $urlSql AS url, CAST(p + 2 AS BIGINT) AS n_blocks, CAST(p AS BIGINT) AS n_kept
         |FROM (SELECT doc_id, $pCnt AS p FROM documents) t ORDER BY url""".stripMargin,
    "group_regions" ->
      s"SELECT $urlSql AS url, CAST(1 AS BIGINT) AS n_regions FROM documents ORDER BY url",
    "assemble_spans" ->
      s"""SELECT $urlSql AS url, CAST(p AS BIGINT) AS n_spans,
         |  CAST(length(text) AS BIGINT) AS text_len
         |FROM (SELECT doc_id, text, $pCnt AS p FROM documents) t ORDER BY url""".stripMargin,
    "spans_view" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS words,
         |         $nw AS nw, $pCnt AS p
         |  FROM documents),
         |u AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS i,
         |         length(array_to_string(words[(i*8+1):LEAST((i+1)*8, nw)], ' ')) AS clen
         |  FROM t, UNNEST(range(p)) AS r(i))
         |SELECT $urlSql AS url, i,
         |  CAST(coalesce(sum(clen + 1) OVER (PARTITION BY doc_id ORDER BY i
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS start,
         |  CAST(coalesce(sum(clen + 1) OVER (PARTITION BY doc_id ORDER BY i
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + clen AS INTEGER) AS "end"
         |FROM u ORDER BY url, i""".stripMargin,
    "extract_pipeline" ->
      s"SELECT $urlSql AS url, text FROM documents ORDER BY url",
    // PDF leg: wrap → extract must reproduce the text byte-identically
    "extract_pdf" ->
      s"SELECT $urlSql AS url, text FROM documents ORDER BY url",
    // WARC leg: pack into multi-record (gzipped) WARC files → split →
    // unwrap HTTP → extract must reproduce the text byte-identically
    "extract_warc" ->
      s"SELECT $urlSql AS url, text FROM documents ORDER BY url",
    "digest_output" ->
      s"SELECT $urlSql AS url, sha256(text) AS text_sha FROM documents ORDER BY url",
    "dedup_latest" ->
      s"""SELECT $urlSql AS url,
         |  CAST(1735689600 + doc_id + CASE WHEN doc_id % 37 = 0 THEN 86400 ELSE 0 END AS BIGINT) AS warc_epoch
         |FROM documents ORDER BY url""".stripMargin,
    "metrics_by_host" ->
      s"""SELECT host, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS sum_text_chars
         |FROM (SELECT $hostSql AS host, text FROM documents) t
         |GROUP BY host ORDER BY host""".stripMargin,
    "skew_topk" ->
      s"""SELECT host, count(*) AS n_docs
         |FROM (SELECT $hostSql AS host FROM documents) t
         |GROUP BY host ORDER BY n_docs DESC, host ASC LIMIT 5""".stripMargin,
    // wrapper-page byte accounting: bytes_in = 251 fixed-chrome bytes
    // + 40 planted-out-link bytes + its target-host digits
    // (hid(doc_id*31+7)) + docId digits (title) + the mirror pages'
    // canonical tag (53 bytes + target host/id digits, doc_id%23==5
    // only) + paragraph text (len - (p-1) joining spaces) + 7 bytes
    // <p></p> per paragraph + the noindex pages' 38-byte robots meta
    // (doc_id%31==11); bytes_out = text bytes
    "host_cost" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, $nw AS nw, $pCnt AS p FROM documents),
         |c AS (
         |  SELECT doc_id,
         |    291 + length(CAST(${hidOf("(doc_id * 31 + 7)")} AS VARCHAR)) + length(CAST(doc_id AS VARCHAR)) + CASE WHEN doc_id % 23 = 5 THEN 53 + length(CAST(${hidOf("(doc_id - 5)")} AS VARCHAR)) + length(CAST(doc_id - 5 AS VARCHAR)) ELSE 0 END + CASE WHEN doc_id % 31 = 11 THEN 38 ELSE 0 END + (length(text) - (p - 1)) + 7 * p AS bytes_in,
         |    length(text) AS bytes_out, p + 2 AS n_blocks
         |  FROM t)
         |SELECT $hostSql AS host, count(*) AS n_docs,
         |  CAST(sum(bytes_in) AS BIGINT) AS sum_bytes_in,
         |  CAST(sum(bytes_out) AS BIGINT) AS sum_bytes_out,
         |  CAST(sum(n_blocks) AS BIGINT) AS sum_blocks,
         |  CAST(max(bytes_in) AS BIGINT) AS max_bytes_in
         |FROM c GROUP BY host ORDER BY host""".stripMargin,
    // exact-percentile mirror of Spark's interpolation:
    // (higher-pos)*lower + (pos-lower)*higher over the sorted counts
    "skew_quantiles" ->
      s"""WITH hc AS (
         |  SELECT count(*) AS n_docs
         |  FROM (SELECT $hostSql AS host FROM documents) t GROUP BY host),
         |agg AS (
         |  SELECT count(*) AS n, list(CAST(n_docs AS DOUBLE) ORDER BY n_docs) AS c,
         |         max(n_docs) AS max_docs
         |  FROM hc),
         |q AS (
         |  -- DOUBLE percentages: a DECIMAL position would make the
         |  -- interpolation weights decimal-exact where Spark computes
         |  -- them in double (p90 diverges whenever the bracketing
         |  -- counts differ) — cross-engine float discipline
         |  SELECT agg.n, agg.max_docs, agg.c, p.p, p.p * (agg.n - 1) AS pos
         |  FROM agg, UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
         |                    CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p(p)),
         |v AS (
         |  SELECT n, max_docs, p,
         |    CASE WHEN ceil(pos) = floor(pos) THEN c[CAST(pos AS INTEGER)+1]
         |         ELSE (ceil(pos) - pos) * c[CAST(floor(pos) AS INTEGER)+1]
         |            + (pos - floor(pos)) * c[CAST(ceil(pos) AS INTEGER)+1]
         |    END AS val
         |  FROM q)
         |SELECT max(n) AS n_hosts,
         |  max(CASE WHEN p = 0.25 THEN val END) AS p25,
         |  max(CASE WHEN p = 0.5  THEN val END) AS p50,
         |  max(CASE WHEN p = 0.75 THEN val END) AS p75,
         |  max(CASE WHEN p = 0.9  THEN val END) AS p90,
         |  TRUE AS approx_ok,
         |  CAST(max(max_docs) AS BIGINT) AS max_docs
         |FROM v""".stripMargin,
    // HLL sketches are engine-specific: oracle pins the exact counts
    // and asserts the Spark-side within-5% sanity bits
    "approx_distinct" ->
      s"""SELECT count(DISTINCT $hostSql) AS n_hosts_exact,
         |       count(DISTINCT $urlSql) AS n_urls_exact,
         |       TRUE AS hll_hosts_ok, TRUE AS hll_urls_ok
         |FROM documents""".stripMargin,
    "resume_antijoin" ->
      s"SELECT $urlSql AS url FROM documents WHERE doc_id % 64 >= 32 ORDER BY url",
    "repartition_range" ->
      s"SELECT $urlSql AS url FROM documents ORDER BY url",
    "salted_partition" ->
      """SELECT CAST(doc_id % 8 AS BIGINT) AS salt, count(*) AS n_pages
        |FROM documents GROUP BY salt ORDER BY salt""".stripMargin,
    "project_prune" ->
      "SELECT lang, count(*) AS n_pages FROM documents GROUP BY lang ORDER BY lang",
    "salted_join" ->
      s"""SELECT CASE WHEN hid = 0 THEN 'hot'
         |            WHEN hid BETWEEN 1 AND 9 THEN 'warm'
         |            ELSE 'cold' END AS tier, count(*) AS n_pages
         |FROM (SELECT $hid AS hid FROM documents) t
         |GROUP BY tier ORDER BY tier""".stripMargin,
    "q_subquery" ->
      """SELECT count(*) AS n_above FROM orders
        |WHERE o_totalprice > (SELECT max(o_totalprice) * 0.5 FROM orders)""".stripMargin,
    "q_rollup" ->
      """SELECT lang, source, count(*) AS n_docs FROM documents
        |GROUP BY ROLLUP(lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    // SAME body the Spark side runs (Queries.groupingSetsSql/existsSql)
    // — only the table names differ
    "q_groupingsets" -> Queries.groupingSetsSql("orders"),
    "q_exists" -> Queries.existsSql("customer", "orders"),
    "host_rank" -> hostRankSql(3),
    // crawl-derived link graph: the Spark side regex-extracts the
    // planted absolute nav out-link from the page MARKUP and parses
    // hosts (TextOps.hostOf); the oracle re-derives the same edges
    // from the planting arithmetic (target host = hid(doc_id*31+7))
    // — the byte-identity style of check for the link extractor.
    // Self-edges kept (hostRankEdges drops them at rank time).
    "link_hosts" ->
      s"""WITH e AS (
         |  SELECT 'host' || CAST($hid AS VARCHAR) || '.example' AS src,
         |         'host' || CAST(${hidOf("(doc_id * 31 + 7)")} AS VARCHAR) || '.example' AS dst
         |  FROM documents)
         |SELECT src, dst, count(*) AS n_links
         |FROM e GROUP BY src, dst ORDER BY src, dst""".stripMargin,
    // PageRank over the markup-extracted graph: SAME unrolled loop as
    // host_rank, edges from the out-link rule (no mod n, self-loops
    // dropped inside the shared template); the Spark side actually
    // extracts the links from html — the real-deployment path,
    // oracle-checked end-to-end.
    "link_rank" -> hostRankSql(3, "(doc_id * 31 + 7)"),
    // label propagation over the SAME markup-extracted graph: the
    // Spark side parses hosts from html; the oracle re-derives the
    // edges and the seed slice from the planting arithmetic
    "label_prop" -> labelPropSql(3),
    // per-host crawl scorecard: embeds the link_rank loop AND the
    // label_prop loop as derived tables (dup_best's embedding style)
    // plus the shared shallow-quality fragments — a rank, propagation
    // or quality-rule change hits this row too
    "host_scorecard" ->
      s"""WITH rnk AS (SELECT * FROM (${hostRankSql(3, "(doc_id * 31 + 7)")}) t1),
         |lbl AS (SELECT * FROM (${labelPropSql(3)}) t2),
         |qd AS (
         |  SELECT doc_id, $hostSql AS host, n_chars, $nw AS nw,
         |         $npSql AS np
         |  FROM documents),
         |hq AS (
         |  SELECT host, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN $isQualitySql THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT) AS quality_permille
         |  FROM qd GROUP BY host)
         |SELECT h.host, CAST(h.n_docs AS BIGINT) AS n_docs, h.quality_permille,
         |  r.rank_milli, l.label
         |FROM hq h JOIN rnk r ON r.host = h.host JOIN lbl l ON l.host = h.host
         |ORDER BY h.host""".stripMargin,
    // canonical-URL dedup: the Spark side regex-extracts the planted
    // <link rel="canonical"> head tag (doc_id%23==5 mirrors doc_id-5);
    // the oracle re-derives the grouping from the planting arithmetic.
    // Absence of the tag = self-canonical.
    "canonical_dedup" ->
      s"""WITH c AS (
         |  SELECT $urlSql AS url,
         |    CASE WHEN doc_id % 23 = 5
         |      THEN 'https://host' || CAST(${hidOf("(doc_id - 5)")} AS VARCHAR) || '.example/p/' || CAST(doc_id - 5 AS VARCHAR)
         |      ELSE $urlSql END AS canonical_url
         |  FROM documents)
         |SELECT canonical_url, count(*) AS n_pages,
         |  max(CASE WHEN url = canonical_url THEN 1 ELSE 0 END) = 1 AS has_canonical_doc
         |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    // robots-noindex compliance gate: the Spark side regex-detects the
    // planted head meta tag (doc_id%31==11); the oracle re-derives
    // indexability from the planting arithmetic.
    "robots_gate" ->
      s"""SELECT $urlSql AS url, NOT (doc_id % 31 = 11) AS indexable
         |FROM documents ORDER BY url""".stripMargin,
    // title metadata sidecar: the Spark side regex-extracts the first
    // <title> element from raw html; the oracle replays the planted
    // wrapHtml title rule ('Doc ' || doc_id)
    "extract_title" ->
      s"""SELECT $urlSql AS url, 'Doc ' || CAST(doc_id AS VARCHAR) AS title
         |FROM documents ORDER BY url""".stripMargin,
    // padded-batch efficiency: whitespace tokens clipped at 2048,
    // bucket = next multiple of 128 (shares the token_count nw
    // expression; positive values, so // matches Spark DIV)
    "pack_efficiency" ->
      s"""SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(bucket_len - tok) AS BIGINT) AS n_pad
         |FROM (SELECT ((tok + 127) // 128) * 128 AS bucket_len, tok
         |      FROM (SELECT least($nw, 2048) AS tok FROM documents) t0) t
         |GROUP BY bucket_len ORDER BY bucket_len""".stripMargin,
    "quality_classify" -> OracleSqlGen.qualityClassify,
    "quality_train" -> OracleSqlGen.qualityTrain,
    "dsir_weights" -> OracleSqlGen.dsirWeights,
    // DSIR admission under the SAME weight chain (shared dsirChainCtes)
    "dsir_sample" -> OracleSqlGen.dsirSample,
    "quality_eval" -> OracleSqlGen.qualityEval,
    "q_windowframe" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_pivot" ->
      """SELECT source,
        |  CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS de,
        |  CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS en,
        |  CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS es,
        |  CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS fr,
        |  CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_setops" ->
      """SELECT
        |  (SELECT count(*) FROM
        |    (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)) AS n_both,
        |  (SELECT count(*) FROM
        |    (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)) AS n_only_cust""".stripMargin,
    "events_sessions" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
        |         WHEN date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000 THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // as-of join: same union-tag + last_value IGNORE NULLS window
    // formulation as the Spark plan (deterministic on timestamp ties:
    // views sort before clicks, then event_id) — engine-portable where
    // native ASOF JOIN tie-breaking is not specified
    "events_asof" ->
      """WITH tagged AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side,
        |    CASE WHEN event_type = 'view' THEN event_id END AS view_id,
        |    CASE WHEN event_type = 'view' THEN ts END AS view_ts
        |  FROM events),
        |j AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(view_id IGNORE NULLS) OVER w AS asof_view_id,
        |    last_value(view_ts IGNORE NULLS) OVER w AS asof_view_ts
        |  FROM tagged
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id,
        |  CAST(coalesce(asof_view_id, -1) AS BIGINT) AS asof_view_id,
        |  CAST(coalesce(date_diff('microsecond', asof_view_ts, ts), -1) AS BIGINT) AS gap_us
        |FROM j WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    // range join: the oracle states the semantics as the naive
    // inequality join; the Spark plan answers it as a bucketed
    // equi-join (fan-out <= 2 epochs per probe) + exact refine.
    // Microseconds anchored at a literal epoch on BOTH engines.
    "events_range" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS t
        |  FROM events)
        |SELECT a.event_id, a.user_id,
        |  CAST(count(b.event_id) AS BIGINT) AS n_in_window
        |FROM e a LEFT JOIN e b
        |  ON a.user_id = b.user_id AND b.event_type <> 'error'
        | AND b.t >= a.t AND b.t < a.t + 300000000
        |WHERE a.event_type = 'error'
        |GROUP BY a.event_id, a.user_id ORDER BY a.event_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, CAST(r.frame_idx AS INTEGER) AS frame_idx
        |FROM documents, UNNEST(range(1 + strlen(text) % 10)) AS r(frame_idx)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // per-block score histogram: wrapper-page p-block score = nChars
    // (nTags=0, no links, prior 1.0 — exact as Float), nav/footer score
    // = 0.0 (link density 1) -> two bucket-0 entries per page
    "score_histogram" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS words, $nw AS nw, $pCnt AS p
         |  FROM documents),
         |u AS (
         |  SELECT doc_id,
         |         length(array_to_string(words[(i*8+1):LEAST((i+1)*8, nw)], ' ')) AS clen
         |  FROM t, UNNEST(range(p)) AS r(i)),
         |b AS (
         |  SELECT clen // 8 AS bucket FROM u
         |  UNION ALL SELECT 0 FROM documents
         |  UNION ALL SELECT 0 FROM documents)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_blocks
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // Gopher-style repetition features: per-doc word/bigram frequency
    // maxima via unnest+group (set-based mirror of the Spark-side
    // sorted-run aggregate fold)
    "rep_ratio" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wc AS (
        |  SELECT doc_id, u.x AS word, count(*) AS c
        |  FROM t, UNNEST(w) AS u(x) GROUP BY doc_id, u.x),
        |wagg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         CAST(count(*) AS BIGINT) AS n_distinct_words,
        |         CAST(max(c) AS BIGINT) AS max_word_freq
        |  FROM wc GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, b, count(*) AS c FROM (
        |    SELECT doc_id, w[CAST(i AS INTEGER)+1] || ' ' || w[CAST(i AS INTEGER)+2] AS b
        |    FROM t, UNNEST(range(len(w) - 1)) AS r(i)) s
        |  GROUP BY doc_id, b),
        |bagg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_bigram_freq FROM bg GROUP BY doc_id)
        |SELECT wagg.doc_id, n_words, n_distinct_words, max_word_freq,
        |  coalesce(max_bigram_freq, 0) AS max_bigram_freq,
        |  (n_distinct_words * 2 <= n_words) AS is_repetitive
        |FROM wagg LEFT JOIN bagg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // token-budget shard packing: bucketed running sum (the window is
    // partitioned — no global cumsum on either engine)
    "shard_pack" ->
      s"""WITH t AS (SELECT doc_id, $nw AS nw FROM documents)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(doc_id % 8 AS BIGINT) AS bucket,
         |  CAST(nw AS BIGINT) AS n_tokens,
         |  CAST((sum(nw) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - nw) // 2048 AS BIGINT) AS shard
         |FROM t ORDER BY doc_id""".stripMargin,
    // sequence packing: per-doc coordinates in the fixed-length (512
    // tokens) training-window stream; same bucketed window-cumsum
    // shape as shard_pack (DuckDB window sum of BIGINT widens to
    // HUGEINT — off is cast back before the derived columns)
    "seq_pack" ->
      s"""WITH t AS (SELECT doc_id, $nw AS nw FROM documents),
         |o AS (SELECT doc_id, doc_id % 8 AS bucket, nw,
         |  CAST(sum(nw) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - nw AS BIGINT) AS off
         |FROM t)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(bucket AS BIGINT) AS bucket,
         |  CAST(nw AS BIGINT) AS n_tokens,
         |  CAST(off // 512 AS BIGINT) AS seq_first,
         |  CAST((off + nw - 1) // 512 AS BIGINT) AS seq_last,
         |  CAST((off + nw - 1) // 512 - off // 512 + 1 AS BIGINT) AS n_seqs,
         |  CAST(off % 512 AS BIGINT) AS begin_pos
         |FROM o ORDER BY doc_id""".stripMargin,
    // BM25-variant lexical search + its stored-index serving twin:
    // both check against the ONE shared mirror (see bm25Sql) — the
    // serving path composes the same scoring kernel over persisted
    // postings, so bit-identity is what the gate proves.
    "bm25_search" -> bm25Sql,
    // DPR-style hard-negative mining: the bm25 template over the
    // near-dup corpus with near-dup + self positives excluded pre-rank
    "hard_negatives" -> hardNegativesSql,
    // PRF expansion: the same template queried with q0 UNION the
    // mined feedback terms (preCtes/qBody params)
    "bm25_prf" -> prfSql,
    // best query-term-dense window per bm25 hit (the bm25 mirror as a
    // derived table; candidate begins = matched positions — the
    // argmax-preserving reduction documented in SearchOps)
    "search_snippets" ->
      s"""WITH hits AS (SELECT query_id, rank, doc_id FROM ($bm25Sql) bs),
         |qq AS (
         |  SELECT CAST(doc_id AS BIGINT) AS query_id, u.term
         |  FROM documents,
         |    UNNEST(list_distinct(string_split(text, ' ')[2:6])) AS u(term)
         |  WHERE doc_id % 101 = 0),
         |toks AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |         string_split(text, ' ')[i.i + 1] AS term,
         |         CAST(i.i AS BIGINT) AS pos
         |  FROM documents, UNNEST(range(len(string_split(text, ' ')))) AS i(i)),
         |m AS (
         |  SELECT h.query_id, h.doc_id, t.pos
         |  FROM hits h JOIN toks t ON t.doc_id = h.doc_id
         |  JOIN qq ON qq.query_id = h.query_id AND qq.term = t.term),
         |c AS (
         |  SELECT b.query_id, b.doc_id, b.pos AS begin_word,
         |         CAST(count(*) AS BIGINT) AS n_matched
         |  FROM m b JOIN m x ON x.query_id = b.query_id AND x.doc_id = b.doc_id
         |    AND x.pos BETWEEN b.pos AND b.pos + ${graft.ops.SearchOps.SnippetWindow - 1}
         |  GROUP BY b.query_id, b.doc_id, b.pos),
         |wn AS (SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
         |        ORDER BY n_matched DESC, begin_word) AS rn FROM c)
         |SELECT w.query_id, h.rank, w.doc_id, w.begin_word, w.n_matched,
         |  array_to_string(string_split(d.text, ' ')[w.begin_word + 1 : w.begin_word + ${graft.ops.SearchOps.SnippetWindow}], ' ') AS snippet
         |FROM wn w JOIN hits h ON h.query_id = w.query_id AND h.doc_id = w.doc_id
         |JOIN documents d ON CAST(d.doc_id AS BIGINT) = w.doc_id
         |WHERE w.rn = 1 ORDER BY w.query_id, h.rank""".stripMargin,
    // exact phrase retrieval + its stored-positional-index serving
    // twin: ONE shared mirror (see phraseSql) — the anchor-join kernel
    // is the same code on both paths, so bit-identity is what the
    // gate proves
    "phrase_search" -> phraseSql,
    "phrase_serve" -> phraseSql,
    "bm25_serve" -> bm25Sql,
    // deletion serving: the INDEXED corpus shrinks to the survivors,
    // the query batch stays full — generated from the SAME template as
    // bm25_search/bm25_serve, so a scoring change hits THREE rows
    "bm25_delete" -> bm25SqlWith(Some("doc_id % 3 <> 0")),
    // Hybrid retrieval: RRF fusion of the two mirrors above/below —
    // the lexical leg IS bm25Sql, the vector leg IS the exact-cosine
    // mirror re-keyed to the shared id % 101 query slice at depth 10;
    // fusion contribution = 10^6 // (60 + rank), integer-exact. Outer
    // CAST: DuckDB sum(BIGINT) widens to HUGEINT.
    "hybrid_rrf" ->
      s"""WITH lex AS ($bm25Sql),
         |vec AS (${OracleSqlGen.annCosineWith("vec_id % 101 = 0", 10)}),
         |u AS (
         |  SELECT query_id, doc_id, rank FROM lex
         |  UNION ALL
         |  SELECT query_id, neighbor_id AS doc_id, rank FROM vec),
         |f AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
         |  FROM u GROUP BY query_id, doc_id)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, rrf_micro
         |FROM f
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // Hybrid over STORED indexes: same fusion, but the vector leg is
    // the APPROXIMATE multi-probe LSH mirror (what a serving
    // deployment actually answers from), re-keyed to the shared query
    // slice at depth 10.
    "hybrid_serve" ->
      s"""WITH lex AS ($bm25Sql),
         |vec AS (${OracleSqlGen.annLshWith("b.vec_id % 101 = 0", 10)}),
         |u AS (
         |  SELECT query_id, doc_id, rank FROM lex
         |  UNION ALL
         |  SELECT query_id, neighbor_id AS doc_id, rank FROM vec),
         |f AS (
         |  SELECT query_id, doc_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro
         |  FROM u GROUP BY query_id, doc_id)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, rrf_micro
         |FROM f
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,
    // Retrieve-then-rerank: the bm25 mirror nominates, the shared
    // double-fold cosine kernel re-scores, top-5 kept. Candidates or
    // queries without a stored embedding take the EXPLICIT sentinel
    // (never engine NULL ordering) — mirrors SearchOps.hybridRerank's
    // coalesce. A bm25 OR cosine kernel change hits this row too.
    "hybrid_rerank" ->
      s"""WITH lex AS ($bm25Sql),
         |normed AS (
         |  SELECT vec_id, embedding,
         |         sqrt(${OracleSqlGen.dotSql("embedding", "embedding")}) AS norm
         |  FROM embeddings),
         |sc AS (
         |  SELECT l.query_id, l.doc_id, l.rank AS lex_rank,
         |    CASE WHEN d.vec_id IS NULL OR q.vec_id IS NULL
         |         THEN ${graft.ops.SearchOps.RerankMissingMicro}
         |         ELSE CAST(floor(${OracleSqlGen.dotSql("q.embedding", "d.embedding")} / (d.norm * q.norm) * 1000000.0) AS BIGINT)
         |    END AS rerank_micro
         |  FROM lex l
         |  LEFT JOIN normed d ON l.doc_id = d.vec_id
         |  LEFT JOIN normed q ON l.query_id = q.vec_id)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rerank_micro DESC, doc_id) AS BIGINT) AS rank,
         |  doc_id, rerank_micro, CAST(lex_rank AS BIGINT) AS lex_rank
         |FROM sc
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // URL canonicalization: the messy synth (fragment / uppercase
    // authority / :443 / unsorted params keyed on doc_id%4) and the
    // normalizer are both mirrored step-for-step
    "url_normalize" -> s"$urlNormalizeSql ORDER BY doc_id",
    // host parsing over the SAME normalized urls: the host expression
    // string is SHARED verbatim with the Spark side
    // (TextOps.hostOfSql), so the oracle checks the exact kernel the
    // curation funnel's real-corpus authority path keys on
    "host_parse" ->
      s"""SELECT doc_id, url_norm,
         |  ${graft.ops.TextOps.hostOfSql("url_norm")} AS host
         |FROM ($urlNormalizeSql) u ORDER BY doc_id""".stripMargin,
    // per-host cap: single-window replay of the salted two-phase
    // TextOps.hostCap (the composition is provably equal — see the
    // operator's scaladoc); hosts from the SAME parse chain as
    // host_parse, quality key = the shared nw word count, cap 12
    "host_cap" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${graft.ops.TextOps.hostOfSql("url_norm")} AS host
         |  FROM ($urlNormalizeSql) u),
         |t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |             CAST($nw AS BIGINT) AS n_tokens FROM documents),
         |r AS (
         |  SELECT h.doc_id, h.host, t.n_tokens,
         |    row_number() OVER (
         |      PARTITION BY h.host
         |      ORDER BY t.n_tokens DESC, h.doc_id ASC) AS rn
         |  FROM h JOIN t USING (doc_id))
         |SELECT doc_id, host, n_tokens, CAST(rn AS BIGINT) AS cap_rank
         |FROM r WHERE rn <= 12 ORDER BY doc_id""".stripMargin,
    // email redaction: pattern uses only char classes + quantifiers so
    // Java regex (Spark) and RE2 (DuckDB) match identically
    "pii_scrub" ->
      s"""WITH d AS (
         |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com for details' AS dirty
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(dirty, '${graft.ops.TextOps.EmailPattern}')) AS BIGINT) AS n_redactions,
         |  regexp_replace(dirty, '${graft.ops.TextOps.EmailPattern}', '<EMAIL>', 'g') AS clean_text
         |FROM d ORDER BY doc_id""".stripMargin,
    // per-language lexical diversity (type-token ratio, permille)
    "ttr_census" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT term) AS BIGINT) AS n_types,
        |  CAST(count(DISTINCT term) * 1000 // count(*) AS BIGINT) AS ttr_permille
        |FROM (SELECT lang, u.term
        |      FROM documents, UNNEST(string_split(text, ' ')) AS u(term)) t
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // Zipf head: top-50 words with dense rank (count desc, term asc)
    // and ppm frequency over the total token mass
    "zipf_census" ->
      """WITH c AS (
        |  SELECT u.term, CAST(count(*) AS BIGINT) AS n
        |  FROM documents, UNNEST(string_split(text, ' ')) AS u(term)
        |  GROUP BY u.term),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |r AS (SELECT term, n,
        |        CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT) AS rank
        |      FROM c)
        |SELECT rank, term, n, CAST(n * 1000000 // total AS BIGINT) AS freq_ppm
        |FROM r, tot WHERE rank <= 50 ORDER BY rank""".stripMargin,
    // OOV rate vs the corpus's own top-K vocabulary (deterministic
    // count-desc/word-asc ties on both engines)
    "oov_ratio" ->
      """WITH wx AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, u.x AS w
        |  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(x)),
        |vocab AS (
        |  SELECT w, 1 AS in_vocab FROM (
        |    SELECT w, count(*) AS c FROM wx GROUP BY w
        |    ORDER BY c DESC, w ASC LIMIT 64) t)
        |SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  (sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) * 5 > count(*)) AS is_oov_heavy
        |FROM wx LEFT JOIN vocab v USING (w)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // self-trained bigram-LM fluency permille (CCNet-perplexity analog):
    // cond_permille = c(w1,w2)*1000 // (c(w1) + LmSmoothing) — the +4
    // additive smoothing penalizes hapax transitions; doc score =
    // truncated mean over bigram occurrences; bigrams over the RAW
    // split (rep_ratio's convention); zero-bigram docs keep a 0 row
    // (LEFT JOIN discipline); sum(p) is HUGEINT -> outer BIGINT casts
    "lm_score" -> lmScoreSql,
    // CCNet head/middle/tail: lm_score mirror as a derived table +
    // histogram-derived per-lang tercile thresholds
    "ppl_buckets" -> pplBucketsSql,
    // Gopher within-doc repetition: dup 2-/5-gram position coverage
    "gopher_rep" -> gopherRepSql,
    // composed quality funnel: first failing rule wins; embeds the
    // lm mirror (lmScoreSqlFrom) + the gopher 5-gram chain shape
    "quality_gate" -> qualityGateSql,
    // integer-exact TF/DF salience (tf*10^6 // df; all positive so
    // DuckDB // == Spark DIV), ties score-desc/term-asc on both engines
    "tfidf_topterms" ->
      """WITH wx AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id, u.x AS w
        |  FROM documents, UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(x)),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM wx GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM wx GROUP BY w),
        |s AS (
        |  SELECT tf.doc_id, tf.w, CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
        |  FROM tf JOIN df USING (w)),
        |r AS (
        |  SELECT doc_id, w, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w ASC) AS rank
        |  FROM s)
        |SELECT doc_id, w AS term, CAST(rank AS BIGINT) AS rank, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // eval-set 8-gram contamination: planted quote-docs at +4000001
    // (≡1 mod 50 keeps them on the training side). The _bloom variant
    // is the 100 TB shape (Bloom pre-filter + exact confirm join) and
    // must be row-identical — SAME oracle SQL.
    "decontaminate" -> decontaminateSql,
    "decontaminate_bloom" -> decontaminateSql,
    // span-CUT decontamination: the dedup_cut island/rebuild chain
    // with an eval-gram-driven dup set; clean_text byte-exact
    "decontaminate_cut" -> decontaminateCutSql,
    // fuzzy decontamination: the SAME planted corpus through the
    // capped minhashEdge chain, eval slice as the query batch
    "decontaminate_fuzzy" -> OracleSqlGen.decontaminateFuzzy,
    // eval-side leak census over the same planted corpus
    "decontaminate_report" -> decontamReportSql,
    "mix_temperature" -> OracleSqlGen.mixTemperature,
    // row-level admission under the SAME chain (shared mixChainCtes)
    "mix_sample" -> OracleSqlGen.mixSample,
    // UniMax water-filling: the sequential allocation unrolled to
    // single-row budget CTEs, epoch cap + step count from Scala
    "mix_unimax" -> OracleSqlGen.mixUnimax,
    // row-level UniMax: the SAME allocation chain, full-epoch copies +
    // splitmix-admitted fractional remainder
    "mix_unimax_sample" -> OracleSqlGen.mixUnimaxSample,
    // token-budget UniMax: the SAME chain over per-lang token mass
    "mix_unimax_tokens" -> OracleSqlGen.mixUnimaxTokens,
    // token-mass variant: same temperature rule over per-lang token mass
    "mix_tokens" -> OracleSqlGen.mixTokens,
    // domain-label mixture: embeds the label_prop loop (shared
    // labelPropCtes) + the isqrt/splitmix mixture kernels
    "mix_domains" -> OracleSqlGen.mixDomains(labelPropCtes(3), 3),
    // kernel-recompute oracles (FNV/splitmix/SimHash/MinHash/LSH/cosine
    // re-expressed exactly in DuckDB SQL — see OracleSqlGen)
    "ngram_census" -> OracleSqlGen.ngramCensus,
    "cms_census" -> OracleSqlGen.cmsCensus,
    // crawl-text cleanup ROUND TRIP: the Spark side dirties documents
    // .text deterministically (tab + doubled spaces + trailing, CRLF
    // joins) then cleans; the oracle is the original text — the
    // extract_pipeline style of byte-identity contract.
    "text_clean" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, text AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "passage_dedup" -> OracleSqlGen.passageDedup,
    "dedup_spans" -> OracleSqlGen.dedupSpans,
    // the span CUT applied: clean_text byte-exact after removing every
    // cross-doc duplicated window's tokens
    "dedup_cut" -> OracleSqlGen.dedupCut,
    // near-dup retrieval for a query slice — same band chain, pair
    // predicate re-keyed (SAME kernel SQL as dedup_minhash)
    "neardup_search" -> OracleSqlGen.neardupSearch,
    // paragraph-level corpus dedup over the planted-boilerplate synth;
    // clean_text reassembly is byte-exact on both engines
    "line_dedup" -> OracleSqlGen.lineDedup,
    // BPE trainer: the merge loop unrolled in SQL over the same capped
    // word census — the merge table must match row-for-row
    "bpe_train" -> OracleSqlGen.bpeTrain,
    // tokens-per-doc under the learned merges (encode replayed in SQL
    // over every distinct corpus word)
    "bpe_encode" -> OracleSqlGen.bpeEncode,
    "dup_cluster" -> OracleSqlGen.dupCluster,
    "dup_stats" -> OracleSqlGen.dupStats,
    // quality-aware canonical: longest member wins, ties to min id —
    // the clustering mirror joined to a fresh copy of its corpus CTEs
    "dup_best" -> OracleSqlGen.dupBest,
    // repeat-aware soft dedup: 10^6 DIV cluster_size per doc over the
    // same clustering mirror
    "dup_weights" -> OracleSqlGen.dupWeights,
    // per-host duplication permille over the same clustering mirror +
    // the hid arithmetic (crawl-budget signal; mass on host 0 by
    // construction — planted chains ride even ids)
    "host_dup_census" -> OracleSqlGen.hostDupCensus,
    "split_leakfree" -> OracleSqlGen.splitLeakfree,
    // the production funnel (CurateJob.funnel) end-to-end: url-revisit
    // dedup → quality gate → exact+MinHash CC → sample → shard-pack
    "curate_funnel" -> OracleSqlGen.curateFunnel,
    // the funnel's authority branch: survivor-set PageRank → ntile
    // tiers → per-tier permille, replayed over the same survivor CTE
    "curate_funnel_auth" -> OracleSqlGen.curateFunnelAuth,
    // the funnel's per-domain-cap branch: survivor CTE + the cap
    // window (doc_id%7 == the parsed host partition on these urls)
    "curate_funnel_cap" -> OracleSqlGen.curateFunnelCap,
    // per-doc first-rejecting-stage audit of the same funnel run
    "curate_audit" -> OracleSqlGen.curateAudit,
    "strat_sample" -> OracleSqlGen.stratSample,
    // exact-k-per-stratum quota sampling: the splitmix chain ranked
    // per lang by the signed view of the hash (Spark's Long order)
    "quota_sample" -> OracleSqlGen.quotaSample,
    // RAG chunking: begin_char derived by a DIFFERENT route than the
    // Spark fold (joined-prefix length), cross-verifying the offsets
    "chunk_overlap" -> OracleSqlGen.chunkOverlap,
    // embedding-space eval decontamination: cosine kernel + threshold
    // + per-doc argmax, replayed with the shared double-fold dot
    "decontaminate_embed" -> OracleSqlGen.decontaminateEmbed,
    "mix_balance" -> OracleSqlGen.mixBalance,
    "lang_id" -> OracleSqlGen.langId,
    "doc_fingerprint" -> OracleSqlGen.docFingerprint,
    "dedup_simhash" -> OracleSqlGen.dedupSimhash,
    // winnowing (MOSS) positional near-dup census — geometry constants
    // shared with the Spark kernel (TextOps.WinnowK/W/MaxDf/MinShared)
    "dedup_winnow" -> OracleSqlGen.dedupWinnow,
    // cross-host mirror detection (planted mirror corpus; hidOfSql host)
    "mirror_hosts" -> OracleSqlGen.mirrorHosts,
    // mirror CLUSTERS: the full mirrorHosts mirror embedded + CC fixpoint
    "mirror_clusters" -> OracleSqlGen.mirrorClusters,
    "dedup_minhash" -> OracleSqlGen.dedupMinhash,
    "ngram_jaccard" -> OracleSqlGen.ngramJaccard,
    "ann_cosine" -> OracleSqlGen.annCosine,
    "ann_lsh" -> OracleSqlGen.annLsh,
    "ann_lsh_filtered" -> OracleSqlGen.annLshFiltered,
    // the serve variants answer from a materialized index and must be
    // bit-identical to the in-memory operators — SAME mirrors
    "ann_lsh_serve" -> OracleSqlGen.annLsh,
    "ann_lsh_delete" -> OracleSqlGen.annLshDelete,
    "ann_ivf" -> OracleSqlGen.annIvf,
    "ann_ivf_serve" -> OracleSqlGen.annIvf,
    "ann_pq" -> OracleSqlGen.annPq,
    "ann_sq" -> OracleSqlGen.annSq,
    "ann_sq_serve" -> OracleSqlGen.annSq,
    "ann_pq_serve" -> OracleSqlGen.annPq,
    // composed IVF+PQ: the mirror embeds BOTH the ivf and pq chains
    "ann_ivfpq" -> OracleSqlGen.annIvfPq,
    "ann_ivfpq_serve" -> OracleSqlGen.annIvfPq,
    "embed_cluster" -> OracleSqlGen.embedCluster,
    "cluster_sample" -> OracleSqlGen.clusterSample,
    "zorder_layout" -> OracleSqlGen.zorderLayout,
    "ann_recall" -> OracleSqlGen.annRecall,
    "dedup_embedding" -> OracleSqlGen.dedupEmbedding,
    // SemDeDup: SAME kmeansAssignCtes chain as ivf/pq/recall/serve,
    // re-keyed to the planted semantic-dup corpus
    "dedup_semantic" -> OracleSqlGen.semDedup
  )
}
