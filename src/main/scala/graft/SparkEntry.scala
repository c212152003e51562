package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextFunctions.splitBucketSql
import graft.operators.{AsOf, Dedup, MapReduceJobs, Multimodal, Pipeline, Relational, Similarity, SkewJoin, SqlSurface, StorageRoundtrip, TextAnalysis, TxnTable}
import graft.streaming.Streams

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q06MultiJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_filter_project" -> (Relational.q01ScanFilterProject _),
    "q02_agg_group"           -> (Relational.q02AggGroup _),
    "q03_join_agg_topk"       -> (Relational.q03JoinAggTopk _),
    "q04_semi_join"           -> (Relational.q04SemiJoin _),
    "q05_anti_join"           -> (Relational.q05AntiJoin _),
    "q06_multi_join"          -> (Relational.q06MultiJoin _),
    "q07_selective_agg"       -> (Relational.q07SelectiveAgg _),
    "q08_sort_limit"          -> (Relational.q08SortLimit _),
    "q09_distinct"            -> (Relational.q09Distinct _),
    "q10_count_distinct"      -> (Relational.q10CountDistinct _),
    "q11_having"              -> (Relational.q11Having _),
    "q12_case_agg"            -> (Relational.q12CaseAgg _),
    "q13_outer_join_agg"      -> (Relational.q13OuterJoinAgg _),
    "q14_union"               -> (Relational.q14Union _),
    "q15_window_rank"         -> (Relational.q15WindowRank _),
    "q16_window_running"      -> (Relational.q16WindowRunning _),
    "q17_rollup"              -> (Relational.q17Rollup _),
    "q18_in_subquery"         -> (Relational.q18InSubquery _),
    "q19_exists_correlated"   -> (Relational.q19ExistsCorrelated _),
    "q20_scalar_subquery"     -> (Relational.q20ScalarSubquery _),
    "q21_lag_lead"            -> (Relational.q21LagLead _),
    "q22_time_window"         -> (Relational.q22TimeWindow _),
    "q23_pivot"               -> (Relational.q23Pivot _),
    "q24_json_extract"        -> (Relational.q24JsonExtract _),
    "q25_csv_roundtrip"       -> (StorageRoundtrip.csvRoundtrip _),
    "q26_json_roundtrip"      -> (StorageRoundtrip.jsonRoundtrip _),
    "q27_text_lines"          -> (StorageRoundtrip.textLines _),
    "q28_partitioned_write"   -> (StorageRoundtrip.partitionedWrite _),
    "q29_percentile"          -> (Relational.q29Percentile _),
    "q30_approx_sketch"       -> (Relational.q30ApproxSketch _),
    "q31_full_outer"          -> (Relational.q31FullOuter _),
    "q32_set_ops"             -> (Relational.q32SetOps _),
    "q33_cube"                -> (Relational.q33Cube _),
    "q34_part_promo"          -> (Relational.q34PartPromo _),
    "q37_grouping_sets"       -> (Relational.q37GroupingSets _),
    "q38_window_range"        -> (Relational.q38WindowRange _),
    "q39_unpivot"             -> (Relational.q39Unpivot _),
    "op_upsert"               -> (Relational.opUpsert _),
    "op_scd2"                 -> (Relational.opScd2 _),
    "q40_schema_evolution"    -> (StorageRoundtrip.schemaEvolution _),
    "q44_compaction"          -> (StorageRoundtrip.compaction _),
    "q45_zorder"              -> (StorageRoundtrip.zorder _),
    "q46_bad_records"         -> (StorageRoundtrip.badRecords _),
    "q47_stats_join"          -> (Relational.q47StatsJoin _),
    "q48_set_ops_all"         -> (Relational.q48SetOpsAll _),
    "q49_null_semantics"      -> (Relational.q49NullSemantics _),
    "op_txn_commit"           -> (TxnTable.txnCommit _),
    "op_txn_asof"             -> (TxnTable.txnAsOf _),
    "op_ndv_broadcast"        -> (TxnTable.ndvBroadcast _),
    "op_txn_recluster"        -> (TxnTable.txnRecluster _),
    "sql_txn_timetravel"      -> (SqlSurface.txnTimeTravel _),
    "sql_txn_skip"            -> (SqlSurface.txnSkip _),
    "sql_txn_dpp"             -> (SqlSurface.txnDpp _),
    "sql_txn_delete_in"       -> (SqlSurface.txnDeleteIn _),
    "sql_txn_delete_in_str"   -> (SqlSurface.txnDeleteInStr _),
    "sql_mv_rewrite"          -> (SqlSurface.mvRewrite _),
    "sql_mv_delta"            -> (SqlSurface.mvDelta _),
    "sql_mv_rollup"           -> (SqlSurface.mvRollup _),
    "sql_mv_filter"           -> (SqlSurface.mvFilter _),
    "sql_mv_decimal"          -> (SqlSurface.mvDecimal _),
    "sql_mv_distinct"         -> (SqlSurface.mvDistinct _),
    "sql_mv_groupsets"        -> (SqlSurface.mvGroupSets _),
    "sql_mv_show"             -> (SqlSurface.mvShow _),
    "sql_mv_retention"        -> (SqlSurface.mvRetention _),
    "sql_mv_timetravel"       -> (SqlSurface.mvTimeTravel _),
    "sql_mv_join"             -> (SqlSurface.mvJoin _),
    "sql_mv_extrema"          -> (SqlSurface.mvExtrema _),
    "sql_mv_star"             -> (SqlSurface.mvStar _),
    "sql_mv_star_scd"         -> (SqlSurface.mvStarScd _),
    "sql_mv_star_live"        -> (SqlSurface.mvStarLive _),
    "sql_mv_partial_star"     -> (SqlSurface.mvPartialStar _),
    "sql_mv_partial_live"     -> (SqlSurface.mvPartialLive _),
    "sql_mv_fact2"            -> (SqlSurface.mvFact2 _),
    "sql_mv_ddl"              -> (SqlSurface.mvDdl _),
    "sql_mv_partial"          -> (SqlSurface.mvPartial _),
    "sql_mv_partial_extrema"  -> (SqlSurface.mvPartialExtrema _),
    "sql_mv_percentile"       -> (SqlSurface.mvPercentile _),
    "sql_mv_star_gsets"       -> (SqlSurface.mvStarGsets _),
    "sql_mv_extrema_gsets"    -> (SqlSurface.mvExtremaGsets _),
    "sql_txn_days"            -> (SqlSurface.txnDaysSql _),
    "sql_txn_agg_push"        -> (SqlSurface.txnAggPush _),
    "sql_txn_bloom"           -> (SqlSurface.txnBloomSql _),
    "sql_txn_evolve"          -> (SqlSurface.txnEvolve _),
    "sql_txn_mor"             -> (SqlSurface.txnMor _),
    "sql_txn_history"         -> (SqlSurface.txnHistory _),
    "sql_txn_detail"          -> (SqlSurface.txnDetail _),
    "sql_txn_rename"          -> (SqlSurface.txnRename _),
    "sql_txn_tag"             -> (SqlSurface.txnTag _),
    "sql_txn_branch"          -> (SqlSurface.txnBranch _),
    "sql_txn_check"           -> (SqlSurface.txnCheck _),
    "sql_txn_delete"          -> (SqlSurface.txnDelete _),
    "sql_txn_delete_str"      -> (SqlSurface.txnDeleteStr _),
    "sql_txn_delete_multi"    -> (SqlSurface.txnDeleteMulti _),
    "sql_txn_merge"           -> (SqlSurface.txnMerge _),
    "sql_txn_merge_sync"      -> (SqlSurface.txnMergeSync _),
    "sql_txn_merge_multi"     -> (SqlSurface.txnMergeMulti _),
    "sql_txn_merge_str"       -> (SqlSurface.txnMergeStr _),
    "sql_txn_changes"         -> (SqlSurface.txnChanges _),
    "sql_txn_update"          -> (SqlSurface.txnUpdate _),
    "op_vacuum"               -> (TxnTable.vacuumTable _),
    "op_cdc_read"             -> (TxnTable.cdcRead _),
    "op_manifest_skip"        -> (TxnTable.manifestSkip _),
    "op_decimal_skip"         -> (TxnTable.decimalSkip _),
    "op_txn_days"             -> (TxnTable.txnDays _),
    "op_txn_bucket"           -> (TxnTable.txnBucket _),
    "op_branch_merge"         -> (TxnTable.branchMerge _),
    "op_zorder_manifest"      -> (TxnTable.zorderManifest _),
    "op_incremental_agg"      -> (TxnTable.incrementalAgg _),
    "op_matview"              -> (graft.operators.MatView.matView _),
    "op_mv_delete"            -> (graft.operators.MatView.mvCowDelete _),
    "op_mv_merge"             -> (graft.operators.MatView.mvCowMerge _),
    "op_mv_chain"             -> (graft.operators.MatView.mvChain _),
    "op_mvx_chain"            -> (graft.operators.MatView.mvxChain _),
    "op_mv_minmax"            -> (graft.operators.MatView.mvMinMax _),
    "op_mv_branch"            -> (SqlSurface.mvBranch _),
    "st_stream_mv_serve"      -> (graft.streaming.Streams.streamMvServe _),
    "op_txn_multi"            -> (TxnTable.txnMulti _),
    "op_txn_default"          -> (TxnTable.txnDefault _),
    "op_table_history"        -> (TxnTable.tableHistory _),
    "op_txn_race"             -> (TxnTable.txnRace _),
    "op_txn_race2"            -> (TxnTable.txnRace2 _),
    "op_merge_pruned"         -> (TxnTable.mergePruned _),
    "op_txn_schema_evolve"    -> (TxnTable.schemaEvolve _),
    "op_txn_checkpoint"       -> (TxnTable.txnCheckpoint _),
    "op_null_skip"            -> (TxnTable.nullSkip _),
    "op_delete_pruned"        -> (TxnTable.deletePruned _),
    "op_delete_mor"           -> (TxnTable.deleteMor _),
    "op_dedup_mor"            -> (TxnTable.dedupMorScenario _),
    "op_delete_dv"            -> (TxnTable.deleteDvScenario _),
    "op_update_dv"            -> (TxnTable.updateDvScenario _),
    "op_txn_restore"          -> (TxnTable.txnRestore _),
    "op_bloom_skip"           -> (TxnTable.bloomSkip _),
    "op_txn_clone"            -> (TxnTable.txnClone _),
    "op_mor_seq"              -> (TxnTable.morSeq _),
    "op_txn_wap"              -> (TxnTable.txnWap _),
    "op_merge_full"           -> (TxnTable.mergeFull _),
    "op_merge_mor"            -> (TxnTable.mergeMor _),
    "op_tomb_rewrite"         -> (TxnTable.tombRewrite _),
    "op_dv_rewrite"           -> (TxnTable.dvRewrite _),
    "op_compact_range"        -> (TxnTable.compactRangeQ _),
    "op_mor_cdc"              -> (TxnTable.morCdc _),
    "op_str_skip"             -> (TxnTable.strSkip _),
    "op_bucketed_join"        -> (StorageRoundtrip.bucketedJoin _),
    "mm_frame_sample"         -> (Multimodal.frameSample _),
    "mm_payload_dedup"        -> (Multimodal.payloadDedup _),
    "mm_blob_retract"         -> (Multimodal.blobRetract _),
    "mm_ref_gc"               -> (Multimodal.blobGc _),
    "mm_blob_stream"          -> (Multimodal.blobStream _),
    "q35_storage_list"        -> (StorageRoundtrip.listDir _),
    "q36_orc_roundtrip"       -> (StorageRoundtrip.orcRoundtrip _),
    "op_salted_join"          -> (SkewJoin.saltedOrdersBySegment _),
    "dd_prefix"               -> (Dedup.prefixDedup _),
    "ta_repetition"           -> (TextAnalysis.repetition _),
    "ta_bigrams"              -> (TextAnalysis.bigrams _),
    "st_stream_dedup"         -> (Streams.streamDedup _),
    "mr_wordcount"            -> (MapReduceJobs.wordCount _),
    "mr_api_wordcount"        -> (MapReduceJobs.wordCountViaApi _),
    "mr_grep"                 -> (MapReduceJobs.grep _),
    "mr_api_grep"             -> (MapReduceJobs.grepViaApi _),
    "mr_sort"                 -> (MapReduceJobs.sort _),
    "mr_inverted_index"       -> (MapReduceJobs.invertedIndex _),
    "mr_inverted_postings"    -> (MapReduceJobs.invertedPostings _),
    "mr_join_tagged"          -> (MapReduceJobs.joinTagged _),
    "mr_mapside_join"         -> (MapReduceJobs.joinMapSide _),
    "mr_secondary_sort"       -> (MapReduceJobs.secondarySort _),
    "mr_pagerank"             -> (MapReduceJobs.pagerank _),
    "dd_exact"                -> (Dedup.exact _),
    "dd_paragraph"            -> (Dedup.paragraphDedup _),
    "dd_substring"            -> (Dedup.substringDedup _),
    "dd_incremental"          -> (Dedup.incremental _),
    "dd_incremental_lsh"      -> (Dedup.incrementalLsh _),
    "dd_retract"              -> (Dedup.retract _),
    "dd_url"                  -> (Dedup.urlDedup _),
    "dd_semantic"             -> (Dedup.semantic _),
    "ta_domain_mix"           -> (TextAnalysis.domainMix _),
    "ta_gopher_rules"         -> (TextAnalysis.gopherRules _),
    "ta_quality_classifier"   -> (TextAnalysis.qualityClassifier _),
    "dd_minhash_lsh"          -> (Dedup.minhashLsh _),
    "dd_simhash"              -> (Dedup.simhash _),
    "dd_ngram_jaccard"        -> (Dedup.ngramJaccard _),
    "dd_cluster"              -> (Dedup.cluster _),
    "dd_embed_cosine"         -> (Dedup.embedCosine _),
    "ta_token_count"          -> (TextAnalysis.tokenCount _),
    "ta_quality_score"        -> (TextAnalysis.qualityScore _),
    "ta_langid"               -> (TextAnalysis.langId _),
    "ta_fingerprint"          -> (TextAnalysis.fingerprintDocs _),
    "ta_rolling_fingerprint"  -> (TextAnalysis.rollingFingerprint _),
    "ta_split"                -> (TextAnalysis.split3 _),
    "ta_pii_scrub"            -> (TextAnalysis.piiScrubDocs _),
    "ta_sample_stratified"    -> (TextAnalysis.sampleStratified _),
    "ta_pack_sequences"       -> (TextAnalysis.packSequences _),
    "ta_tfidf"                -> (TextAnalysis.tfidf _),
    "ta_bm25"                 -> (TextAnalysis.bm25 _),
    "ta_index_search"         -> (TextAnalysis.indexSearch _),
    "ta_index_retract"        -> (TextAnalysis.indexRetract _),
    "ta_feature_hash"         -> (TextAnalysis.featureHash _),
    "ta_cdc_chunk"            -> (TextAnalysis.cdcChunk _),
    "ta_dsir"                 -> (TextAnalysis.dsir _),
    "ta_entropy"              -> (TextAnalysis.entropy _),
    "ta_bpe_train"            -> (TextAnalysis.bpeTrainQuery _),
    "ta_bpe_tokenize"         -> (TextAnalysis.bpeTokenize _),
    "ta_pack_bpe"             -> (TextAnalysis.packBpe _),
    "sim_range_search"        -> (Similarity.rangeSearch _),
    "ta_sessionize"           -> (TextAnalysis.sessionize _),
    "pipe_clean_corpus"       -> (Pipeline.cleanCorpus _),
    "pipe_dedup_corpus"       -> (Pipeline.dedupCorpus _),
    "sim_knn_brute"           -> (Similarity.knnBrute _),
    "sim_ann_lsh"             -> (Similarity.annLsh _),
    "sim_ann_ivf"             -> (Similarity.annIvf _),
    "sim_ann_incremental"     -> (Similarity.annIncremental _),
    "sim_ann_delete"          -> (Similarity.annDelete _),
    "sim_ann_recluster"       -> (Similarity.annRecluster _),
    "st_stream_ann"           -> (Similarity.annStream _),
    "sim_ann_filtered"        -> (Similarity.annFiltered _),
    "sim_hybrid_ivfpq"        -> (Similarity.hybridIvfPq _),
    "sim_ann_graph"           -> (Similarity.annGraph _),
    "sim_ann_pq"              -> (Similarity.annPq _),
    "sim_sq8"                 -> (Similarity.annSq8 _),
    "sim_hybrid_rrf"          -> (Similarity.hybridRrf _),
    "sim_ann_ivfpq"           -> (Similarity.annIvfPq _),
    "sim_kmeans"              -> (Similarity.kmeans _),
    "op_asof_join"            -> (AsOf.purchaseToClick _),
    "op_range_join"           -> (AsOf.errorClickWindow _),
    "mm_binary_meta"          -> (Multimodal.binaryMeta _),
    "mm_decode_stub"          -> (Multimodal.decodeStub _),
    "st_stream_window"        -> (Streams.streamWindow _),
    "st_stream_session"       -> (Streams.streamSession _),
    "st_stream_enrich"        -> (Streams.streamEnrich _),
    "st_stream_join"          -> (Streams.streamJoin _),
    "st_stream_file_sink"     -> (Streams.streamFileSink _),
    "st_stream_upsert"        -> (Streams.streamUpsert _),
    "st_stream_mor"           -> (Streams.streamMorApply _),
    "st_stream_dedup_lsh"     -> (graft.streaming.Streams.streamDedupLsh _),
    "st_stream_txn_multi"     -> (Streams.streamTxnMulti _),
    "st_stream_idempotent"    -> (Streams.streamIdempotent _),
    "st_stream_matview"       -> (Streams.streamMatView _),
    "st_stream_session_window" -> (Streams.streamSessionWindow _),
    "st_stream_backfill"      -> (Streams.streamBackfill _),
    "st_stream_catalog"       -> (Streams.streamCatalog _),
    "st_stream_since"         -> (Streams.streamSince _),
    "st_stream_cdc"           -> (Streams.streamCdc _),
    "st_stream_changes"       -> (Streams.streamChanges _),
    "mr_triangle_count"       -> (MapReduceJobs.triangleCount _),
    "ta_ngram_lm"             -> (TextAnalysis.ngramLm _),
    "ta_contamination"        -> (TextAnalysis.contamination _),
    "ta_lm_score"             -> (TextAnalysis.lmScore _),
    "q41_datetime"            -> (Relational.q41Datetime _),
    "q42_string_funcs"        -> (Relational.q42StringFuncs _),
    "q43_higher_order"        -> (Relational.q43HigherOrder _),
    "sql_text_agg"            -> (SqlSurface.textAgg _),
    "sql_text_rolling"        -> (SqlSurface.textRolling _),
    "sql_text_knn"            -> (SqlSurface.textKnn _),
    "sql_recursive_cte"       -> (SqlSurface.recursiveCte _),
    "sql_text_minhash"        -> (SqlSurface.textMinhash _),
  )

  /** ta_langid oracle: same stopword-profile scores, argmax with the same
    * earlier-profile tiebreak (the >= CASE chain ≡ the engine's
    * (score, prior) struct max). Profiles mirror TextAnalysis.langId. */
  private def taLangidOracle: String = {
    val profiles = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "de" -> Seq("der", "die", "und", "das", "ein"),
      "es" -> Seq("el", "los", "las", "una", "y"),
      "zh" -> Seq("的", "是", "了", "在", "和"))
    val scores = profiles.map { case (l, ws) =>
      val inList = ws.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ($inList))) AS s_$l"
    }.mkString(",\n    ")
    val langs = profiles.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString("\n       ")
    s"""WITH t AS (SELECT doc_id,
       |    $scores
       |  FROM documents)
       |SELECT doc_id,
       |  CASE $cases
       |       ELSE '${langs.last}' END AS pred_lang
       |FROM t""".stripMargin
  }

  /** dd_simhash oracle: replays the exact 60-bit md5-prefix SimHash
    * (Dedup.SimhashBits / SimHashSignature's token hash), the 4×15-bit chunk
    * bucketing, and the hamming ≤ 3 filter — bit-for-bit. */
  private def ddSimhashOracle: String = {
    val bits = graft.operators.Dedup.SimhashBits
    val bitSums = (0 until bits)
      .map(j => s"SUM(((h >> $j) & 1) * 2 - 1) AS s$j").mkString(",\n    ")
    val sigExpr = (0 until bits)
      .map(j => s"CASE WHEN s$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id,
       |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
       |bs AS (SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS sig FROM bs),
       |chunks AS (
       |  SELECT doc_id, sig, k, (sig >> (15 * k)) & 32767 AS v
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS k)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM pairs WHERE hamming <= 3""".stripMargin
  }

  /** Rolling-hash replay shared by ta_rolling_fingerprint and
    * sql_text_rolling (the SQL-text route through the same native
    * expression — both front-ends held to one oracle). */
  private val rollingHashOracle =
    """SELECT doc_id, list_reduce(
      |  list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split_regex(text, ''),
      |      x -> CAST(ascii(x) AS BIGINT))),
      |  (h, c) -> (h * 31 + c) % 2147483647) AS rh
      |FROM documents""".stripMargin

  /** Exact cosine top-k replay shared by sim_knn_brute and sql_text_knn. */
  private val knnBruteOracle =
    """SELECT q_id, n_id, rank FROM (
      |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(n.embedding AS DOUBLE[]),
      |                 CAST(q.embedding AS DOUBLE[])) DESC, n.vec_id) AS rank
      |  FROM embeddings q, embeddings n
      |  WHERE q.vec_id < 10 AND n.vec_id <> q.vec_id) t
      |WHERE rank <= 5""".stripMargin

  /** DuckDB-runnable twins of `queries`. Column names/aliases match the
    * Spark side exactly (driver sorts columns by name before hashing). */
  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       l_extendedprice * (1 - l_discount) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity > 45""".stripMargin,
    "q02_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q03_join_agg_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_odate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q04_semi_join" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 49)""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q06_multi_join" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q07_selective_agg" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q08_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    "q09_distinct" ->
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    "q10_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q11_having" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_custkey
        |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) > 1000000.0""".stripMargin,
    "q12_case_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag""".stripMargin,
    "q13_outer_join_agg" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q14_union" ->
      """SELECT kind, nk, COUNT(*) AS n FROM (
        |  SELECT 'cust' AS kind, CAST(c_nationkey AS INT) AS nk FROM customer
        |  UNION ALL
        |  SELECT 'supp' AS kind, CAST(s_nationkey AS INT) AS nk FROM supplier) t
        |GROUP BY kind, nk""".stripMargin,
    "q15_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,
    "q16_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_qty
        |FROM lineitem""".stripMargin,
    "q17_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q18_in_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY o_orderpriority""".stripMargin,
    "q19_exists_correlated" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000
        |    AND o_orderdate >= TIMESTAMP '2000-01-01')""".stripMargin,
    "q20_scalar_subquery" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |  COUNT(*) AS n
        |FROM lineitem
        |JOIN (SELECT l_partkey AS pk, SUM(l_quantity) / COUNT(*) AS avg_qty
        |      FROM lineitem GROUP BY l_partkey) sub
        |  ON l_partkey = pk
        |WHERE l_quantity < avg_qty * 0.5""".stripMargin,
    "q21_lag_lead" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |FROM events""".stripMargin,
    "q22_time_window" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q23_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q24_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q25_csv_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity > 45 GROUP BY l_returnflag""".stripMargin,
    "q26_json_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  MIN(strftime(o_orderdate, '%Y-%m-%d')) AS first_date
        |FROM orders WHERE o_totalprice > 400000 GROUP BY o_orderstatus""".stripMargin,
    "q27_text_lines" ->
      """SELECT length(text) AS len, COUNT(*) AS n
        |FROM documents GROUP BY length(text)""".stripMargin,
    "q28_partitioned_write" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus""".stripMargin,
    "q31_full_outer" ->
      """SELECT nk_c, nk_s, n_cust, n_supp FROM
        |  (SELECT c_nationkey AS nk_c, COUNT(*) AS n_cust FROM customer
        |   GROUP BY c_nationkey HAVING c_nationkey < 13) c
        |FULL OUTER JOIN
        |  (SELECT s_nationkey AS nk_s, COUNT(*) AS n_supp FROM supplier
        |   GROUP BY s_nationkey HAVING s_nationkey >= 7) p
        |ON nk_c = nk_s""".stripMargin,
    "q32_set_ops" ->
      """SELECT 'both' AS kind, ck FROM (
        |  SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000
        |  INTERSECT
        |  SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000)
        |UNION ALL
        |SELECT 'only_orders' AS kind, ck FROM (
        |  SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 200000
        |  EXCEPT
        |  SELECT c_custkey AS ck FROM customer WHERE c_acctbal > 5000)""".stripMargin,
    "q33_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q29_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // exact columns hash-checked; the sketch estimates are engine-internal,
    // so the oracle asserts the error-bound booleans instead
    "q30_approx_sketch" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  quantile_cont(value, 0.5) AS exact_p50,
        |  TRUE AS approx_users_ok,
        |  TRUE AS approx_p50_ok
        |FROM events GROUP BY event_type""".stripMargin,
    "q34_part_promo" ->
      """SELECT
        |  CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
        |  CAST(SUM(CASE WHEN p_type = 'ECONOMY' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) * 100.0
        |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-03-01'""".stripMargin,
    "q37_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,
    "q38_window_range" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS spend_30d
        |FROM orders""".stripMargin,
    "q39_unpivot" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
        |FROM part""".stripMargin,
    "op_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority, 0 AS src
        |  FROM orders),
        |updates AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    CAST(o_totalprice + 1000.0 AS DOUBLE) AS o_totalprice,
        |    '5-LOW' AS o_orderpriority, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |inserts AS (SELECT o_orderkey + 100000000 AS o_orderkey,
        |    'N' AS o_orderstatus,
        |    CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority, 1 AS src
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |merged AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM updates
        |        UNION ALL SELECT * FROM inserts))
        |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM merged WHERE rn = 1""".stripMargin,
    // NOTE: the driver's correctness gate always runs at sf0.01, so the
    // listing oracle globs that directory literally (a DuckDB oracle has no
    // way to receive the sfDir parameter).
    "q35_storage_list" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS name,
        |  CAST(size AS BIGINT) AS bytes
        |FROM read_blob('/root/testdata/sf0.01/*')""".stripMargin,
    "ta_langid" -> taLangidOracle,
    "dd_simhash" -> ddSimhashOracle,
    // full replay of MinHash+LSH: modular shingle hashes, 128 permutation
    // minima, raw-minima band buckets, anchored+chained pairs, Jaccard
    "dd_minhash_lsh" -> graft.operators.Dedup.minhashOracle,
    "dd_incremental_lsh" -> graft.operators.Dedup.incrementalLshOracle,
    // forgotten fingerprints: the store side is the RETAINED corpus
    "dd_retract" -> graft.operators.Dedup.retractOracle,
    "st_stream_dedup_lsh" -> graft.operators.Dedup.streamDedupLshOracle,
    // the corpus table after three atomic (corpus, bands, ledger)
    // micro-batch transactions = seed corpus + each wave's kept docs
    "st_stream_txn_multi" -> graft.operators.Dedup.streamTxnMultiOracle,
    "q36_orc_roundtrip" ->
      """SELECT l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_discount >= 0.05 GROUP BY l_linestatus""".stripMargin,
    // salting must be invisible in the result: the oracle is the PLAIN join
    "op_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "mr_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_api_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_grep" ->
      """SELECT source, COUNT(*) AS n FROM documents
        |WHERE text LIKE '%spark%' GROUP BY source""".stripMargin,
    "mr_api_grep" ->
      """SELECT source, COUNT(*) AS n FROM documents
        |WHERE text LIKE '%spark%' GROUP BY source""".stripMargin,
    // Replays fakeDecode's modular byte fold per char (corpus is ASCII:
    // bytes == codepoints) and the resize/sample integer arithmetic.
    "mm_decode_stub" ->
      """WITH hh AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(
        |        list_filter(string_split_regex(text, ''), c -> c <> ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 2147483647) AS h
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    CAST(64 + h % 1024 AS INT) AS width,
        |    CAST(64 + (h // 1024) % 1024 AS INT) AS height,
        |    CAST(1 + (h // 1048576) % 32 AS INT) AS n_frames,
        |    (h % 1000000) / 1000000.0 AS feat_mean
        |  FROM hh)
        |SELECT doc_id, width, height, n_frames, feat_mean,
        |  CASE WHEN greatest(width, height) <= 256 THEN width
        |    ELSE greatest(1, CAST(floor(width * (256.0 / greatest(width, height))) AS INT)) END AS resized_w,
        |  CASE WHEN greatest(width, height) <= 256 THEN height
        |    ELSE greatest(1, CAST(floor(height * (256.0 / greatest(width, height))) AS INT)) END AS resized_h,
        |  CASE WHEN n_frames <= 4 THEN array_to_string(range(0, n_frames), ',')
        |    ELSE array_to_string(list_transform(range(0, 4), i -> (i * n_frames) // 4), ',') END AS sampled_frames
        |FROM d""".stripMargin,
    "mr_sort" ->
      """SELECT doc_id, n_chars,
        |  ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rank
        |FROM documents""".stripMargin,
    "mr_inverted_index" ->
      """SELECT word, COUNT(DISTINCT doc_id) AS n_docs FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_inverted_postings" ->
      """SELECT word,
        |  array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,
    "mr_join_tagged" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "mr_mapside_join" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "mr_secondary_sort" ->
      """SELECT event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS seq
        |FROM events""".stripMargin,
    // integer micro-unit PageRank: bit-exact in any engine (no float
    // summation order); 5 rounds unrolled as chained CTEs. Each round's
    // rank is CAST back to BIGINT because DuckDB widens the SUM to
    // HUGEINT, which pandas renders as float64 ("150000.0" vs "150000")
    // and the driver's value-hash then mismatches on equal numbers.
    "mr_pagerank" ->
      """WITH nodes AS (SELECT c_custkey AS node FROM customer),
        |n AS (SELECT COUNT(*) AS n FROM nodes),
        |edges AS (
        |  SELECT DISTINCT node AS src, (node * node + 7) % (SELECT n FROM n) AS dst FROM nodes
        |  UNION
        |  SELECT DISTINCT node AS src, (13 * node * node + node + 5) % (SELECT n FROM n) AS dst FROM nodes),
        |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT r0.node, CAST(150000 + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r FROM r0
        |  LEFT JOIN (SELECT e.dst, SUM(p.r // o.deg) AS c FROM edges e
        |    JOIN r0 p ON e.src = p.node JOIN outdeg o ON e.src = o.src GROUP BY e.dst) s
        |  ON r0.node = s.dst),
        |r2 AS (SELECT r1.node, CAST(150000 + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r FROM r1
        |  LEFT JOIN (SELECT e.dst, SUM(p.r // o.deg) AS c FROM edges e
        |    JOIN r1 p ON e.src = p.node JOIN outdeg o ON e.src = o.src GROUP BY e.dst) s
        |  ON r1.node = s.dst),
        |r3 AS (SELECT r2.node, CAST(150000 + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r FROM r2
        |  LEFT JOIN (SELECT e.dst, SUM(p.r // o.deg) AS c FROM edges e
        |    JOIN r2 p ON e.src = p.node JOIN outdeg o ON e.src = o.src GROUP BY e.dst) s
        |  ON r2.node = s.dst),
        |r4 AS (SELECT r3.node, CAST(150000 + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r FROM r3
        |  LEFT JOIN (SELECT e.dst, SUM(p.r // o.deg) AS c FROM edges e
        |    JOIN r3 p ON e.src = p.node JOIN outdeg o ON e.src = o.src GROUP BY e.dst) s
        |  ON r3.node = s.dst),
        |r5 AS (SELECT r4.node, CAST(150000 + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r FROM r4
        |  LEFT JOIN (SELECT e.dst, SUM(p.r // o.deg) AS c FROM edges e
        |    JOIN r4 p ON e.src = p.node JOIN outdeg o ON e.src = o.src GROUP BY e.dst) s
        |  ON r4.node = s.dst)
        |SELECT node, r FROM r5 ORDER BY r DESC, node LIMIT 20""".stripMargin,
    // orientation-FREE replay (numeric a<b<c joins) of the Spark side's
    // degree-oriented count — per-bucket totals are orientation-invariant
    "mr_triangle_count" ->
      """WITH nodes AS (SELECT c_custkey AS node FROM customer),
        |n AS (SELECT COUNT(*) AS n FROM nodes),
        |raw AS (
        |  SELECT node AS a, (node * node + 7) % (SELECT n FROM n) AS b FROM nodes
        |  UNION ALL
        |  SELECT node AS a, (13 * node * node + node + 5) % (SELECT n FROM n) AS b FROM nodes
        |  UNION ALL
        |  SELECT node AS a, (7 * node + 3) % (SELECT n FROM n) AS b FROM nodes),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM raw
        |      WHERE least(a, b) <> greatest(a, b)),
        |tri AS (SELECT e1.u AS a FROM e e1
        |        JOIN e e2 ON e1.v = e2.u
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT a % 10 AS bucket, COUNT(*) AS n_tri FROM tri GROUP BY 1""".stripMargin,
    "ta_ngram_lm" ->
      """WITH w AS (SELECT
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |tg AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 2),
        |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1], w3 := ws[i+2]))) AS t
        |  FROM w),
        |c AS (SELECT t.w1 AS w1, t.w2 AS w2, t.w3 AS w3, COUNT(*) AS n
        |  FROM tg GROUP BY 1, 2, 3)
        |SELECT w1, w2, w3, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY w1, w2) AS BIGINT)
        |    AS cond_micro
        |FROM c ORDER BY n DESC, w1, w2, w3 LIMIT 20""".stripMargin,
    "ta_contamination" ->
      s"""WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |tg AS (SELECT doc_id,
        |    ${splitBucketSql("doc_id")} AS split,
        |    unnest(list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM w),
        |train AS (SELECT DISTINCT shingle FROM tg WHERE split = 'train'),
        |test AS (SELECT DISTINCT doc_id, shingle FROM tg WHERE split = 'test'),
        |m AS (SELECT doc_id, COUNT(*) AS n_matched FROM test
        |  WHERE shingle IN (SELECT shingle FROM train) GROUP BY doc_id),
        |t AS (SELECT doc_id, COUNT(*) AS n_tri FROM test GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tri,
        |  COALESCE(m.n_matched, 0) AS n_matched,
        |  CAST((COALESCE(m.n_matched, 0) * 1000000) // t.n_tri AS BIGINT)
        |    AS contam_micro
        |FROM t LEFT JOIN m ON t.doc_id = m.doc_id""".stripMargin,
    "ta_lm_score" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |tg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 2),
        |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1], w3 := ws[i+2]))) AS t
        |  FROM w),
        |inst AS (SELECT doc_id, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM tg),
        |c AS (SELECT w1, w2, w3, COUNT(*) AS n FROM inst GROUP BY 1, 2, 3),
        |model AS (SELECT w1, w2, w3,
        |    CAST((n * 1000000) // SUM(n) OVER (PARTITION BY w1, w2) AS BIGINT)
        |      AS cond_micro
        |  FROM c)
        |SELECT i.doc_id, COUNT(*) AS n_tri,
        |  CAST(SUM(m.cond_micro) // COUNT(*) AS BIGINT) AS lm_micro
        |FROM inst i JOIN model m USING (w1, w2, w3)
        |GROUP BY i.doc_id""".stripMargin,
    "q41_datetime" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  year(o_orderdate) AS y,
        |  quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |  last_day(CAST(o_orderdate AS DATE)) AS ld,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        |  weekofyear(o_orderdate) AS woy,
        |  dayofweek(o_orderdate) + 1 AS dow
        |FROM orders WHERE o_orderkey % 997 = 0""".stripMargin,
    "q42_string_funcs" ->
      """SELECT doc_id,
        |  upper(substr(text, 1, 20)) AS up,
        |  lower(substr(text, 1, 20)) AS lo,
        |  reverse(substr(text, 1, 20)) AS rev,
        |  translate(substr(text, 1, 20), 'aeiou', 'AEIOU') AS tr,
        |  lpad(CAST(doc_id AS VARCHAR), 8, '0') AS lp,
        |  repeat(substr(text, 1, 2), 3) AS rep,
        |  instr(text, 'the') AS ins,
        |  CAST(ascii(lang) AS BIGINT) AS asc,
        |  concat_ws('|', lang, source) AS cw,
        |  regexp_extract(text, '([A-Za-z]+ing)', 1) AS rx,
        |  levenshtein(lang, source) AS lev,
        |  CAST(length(string_split_regex(text, '\s+')) AS BIGINT) AS ntok
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin,
    "q43_higher_order" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> length(x) > 5)) AS BIGINT) AS n_long,
        |  CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
        |    AS BIGINT) AS chars,
        |  array_to_string(list_transform(toks[1:5], x -> upper(x)), ',')
        |    AS head5_up,
        |  array_to_string(list_sort(list_distinct(toks[1:8])), ',')
        |    AS head8_uniq,
        |  coalesce(list_contains(toks, 'the'), false) AS has_the
        |FROM t""".stripMargin,
    "dd_exact" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  doc_id = MIN(doc_id) OVER (
        |    PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep
        |FROM documents""".stripMargin,
    "dd_prefix" ->
      """SELECT doc_id,
        |  md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80)) AS fp,
        |  doc_id = MIN(doc_id) OVER (
        |    PARTITION BY md5(substr(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), 1, 80))) AS keep
        |FROM documents""".stripMargin,
    "dd_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM w),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS j
        |FROM cand
        |JOIN sizes s1 ON d1 = s1.doc_id
        |JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8""".stripMargin,
    // Same pair derivation as dd_ngram_jaccard, then transitive closure via
    // recursive CTE; rep = min doc_id reachable (matches min-label propagation).
    "dd_cluster" ->
      """WITH RECURSIVE w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM w),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS doc_id, MIN(dst) AS rep FROM reach GROUP BY src""".stripMargin,
    // the bucketed path is replayed exactly (hyperplane buckets +
    // candidate pairs + cosine verify) — see Dedup.embedCosine's scaladoc
    // for why no sublinear scheme has total recall at this tau
    "dd_embed_cosine" -> graft.operators.Dedup.embedCosineOracle,
    "ta_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_n,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS bpe_n
        |FROM documents""".stripMargin,
    "ta_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop_n
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST(stop_n AS DOUBLE) / n_tok AS stop_ratio,
        |  LEAST(1.0, n_tok / 100.0) * (1.0 - CAST(stop_n AS DOUBLE) / n_tok) AS score
        |FROM t""".stripMargin,
    // the Gopher-style rule battery: every counter and ratio replayed
    // with the identical IEEE expression tree, flags and the conjunctive
    // keep bit compared bit-for-bit
    "ta_gopher_rules" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS tok FROM documents),
        |per AS (SELECT doc_id, COUNT(*) AS n_words, SUM(len(tok)) AS nc,
        |    SUM(CASE WHEN regexp_matches(tok, '[A-Za-z]')
        |      THEN 1 ELSE 0 END) AS na,
        |    SUM(CASE WHEN tok IN ('the','a','of','and','to','in','is','it')
        |      THEN 1 ELSE 0 END) AS ns,
        |    SUM(CASE WHEN regexp_matches(tok, '^[0-9]+$')
        |      THEN 1 ELSE 0 END) AS nn
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, n_words, CAST(nc AS DOUBLE) / n_words AS mean_wlen,
        |  n_words >= 20 AND n_words <= 100000 AS ok_len,
        |  CAST(nc AS DOUBLE) / n_words >= 3.0
        |    AND CAST(nc AS DOUBLE) / n_words <= 10.0 AS ok_wlen,
        |  CAST(na AS DOUBLE) / n_words >= 0.8 AS ok_alpha,
        |  ns >= 2 AS ok_stop,
        |  CAST(nn AS DOUBLE) / n_words <= 0.2 AS ok_num,
        |  (n_words >= 20 AND n_words <= 100000)
        |    AND (CAST(nc AS DOUBLE) / n_words >= 3.0
        |      AND CAST(nc AS DOUBLE) / n_words <= 10.0)
        |    AND (CAST(na AS DOUBLE) / n_words >= 0.8)
        |    AND (ns >= 2)
        |    AND (CAST(nn AS DOUBLE) / n_words <= 0.2) AS keep
        |FROM per""".stripMargin,
    // paragraph (16-token chunk) dedup: chunking, global first-occurrence
    // keep, and ordered reassembly all replayed; new_fp hash-checks the
    // reassembled text itself
    "dd_paragraph" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS toks FROM documents),
        |ix AS (SELECT doc_id, toks,
        |    CAST(unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT)))
        |      AS BIGINT) AS ci FROM d),
        |c AS (SELECT doc_id, ci,
        |    array_to_string(
        |      toks[(CAST(ci AS INT)*16+1):(CAST(ci AS INT)*16+16)],
        |      ' ') AS chunk
        |  FROM ix),
        |f AS (SELECT doc_id, ci, chunk, md5(chunk) AS fp,
        |    doc_id * 1000000000 + ci AS rk FROM c),
        |m AS (SELECT fp, MIN(rk) AS mrk FROM f GROUP BY fp)
        |SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rk = mrk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  md5(COALESCE(string_agg(CASE WHEN rk = mrk THEN chunk END,
        |    ' ' ORDER BY ci), '')) AS new_fp
        |FROM f JOIN m USING (fp)
        |GROUP BY doc_id""".stripMargin,
    "dd_incremental" ->
      """WITH fps AS (SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 <> 0),
        |raw AS (
        |  SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 100000, fp FROM fps
        |    WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
        |  UNION ALL SELECT doc_id + 200000, fp FROM fps
        |    WHERE doc_id % 15 = 0),
        |batch AS (SELECT doc_id, fp,
        |    doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS batch_rep
        |  FROM raw)
        |SELECT b.doc_id, b.fp, b.batch_rep,
        |  s.fp IS NULL AS novel,
        |  (b.batch_rep AND s.fp IS NULL) AS keep,
        |  TRUE AS inc_ok
        |FROM batch b LEFT JOIN store s USING (fp)""".stripMargin,
    "dd_semantic" -> Dedup.semanticOracle,
    "ta_domain_mix" ->
      """WITH dt AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |dom AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_d,
        |    CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1000000 + 0.5)
        |      AS BIGINT) AS s_d
        |  FROM dt GROUP BY source),
        |tot AS (SELECT CAST(SUM(s_d) AS BIGINT) AS s_tot,
        |    CAST(SUM(n_d) AS BIGINT) AS n_tot FROM dom)
        |SELECT dt.doc_id, dt.source, dt.n_tok,
        |  CAST(CAST('0x' || substr(md5('mix:' || CAST(dt.doc_id AS VARCHAR)),
        |      1, 6) AS BIGINT) AS HUGEINT) * s_tot * n_d
        |    < CAST(s_d AS HUGEINT) * (n_tot // 2) * 16777216 AS kept
        |FROM dt JOIN dom USING (source) CROSS JOIN tot""".stripMargin,
    "dd_url" ->
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END)
        |    || '://' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN upper(source || '.example.org')
        |          ELSE source || '.example.org' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
        |    '/p/' || CAST(doc_id % 10 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) || '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN 'z=9&utm_campaign=x&id=' || CAST(doc_id % 5 AS VARCHAR)
        |          ELSE 'id=' || CAST(doc_id % 5 AS VARCHAR) || '&z=9' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END) AS url
        |  FROM documents),
        |n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf
        |  FROM u),
        |n2 AS (SELECT *, regexp_replace(nf, '^[^:]+://', '') AS rest
        |  FROM n1),
        |n3 AS (SELECT *, regexp_replace(rest, '^[^/?]+', '') AS pathq
        |  FROM n2),
        |n4 AS (SELECT *, array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(pathq, '[?](.*)$', 1), '&'),
        |    p -> NOT regexp_matches(p, '^utm_') AND p <> '')), '&') AS cq
        |  FROM n3),
        |n5 AS (SELECT doc_id, url,
        |    lower(regexp_extract(nf, '^([^:]+)://', 1)) || '://' ||
        |    lower(regexp_replace(regexp_extract(rest, '^([^/?]+)', 1),
        |      ':(443|80)$', '')) ||
        |    regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '')
        |    || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canon
        |  FROM n4)
        |SELECT doc_id, url, canon,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY canon) AS keep
        |FROM n5""".stripMargin,
    "ta_repetition" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS n FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |    FROM documents) t
        |  GROUP BY doc_id, tok)
        |SELECT doc_id,
        |  CAST(SUM(n) AS BIGINT) AS n_tok,
        |  COUNT(*) AS n_uniq,
        |  MAX(n) AS max_n,
        |  1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS BIGINT) AS rep_ratio
        |FROM tc GROUP BY doc_id""".stripMargin,
    "ta_bigrams" ->
      """WITH w AS (SELECT
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |bg AS (SELECT
        |    unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM w)
        |SELECT bigram, COUNT(*) AS n FROM bg
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,
    // substring-span dedup: grams, the 16-hex md5-prefix duplicate key,
    // windowed coverage, and ordered reassembly all replay exactly
    "dd_substring" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '')
        |      AS ws FROM documents),
        |gx AS (SELECT doc_id, ws,
        |    CAST(unnest(range(0, len(ws) - 7)) AS BIGINT) AS gpos
        |  FROM d WHERE len(ws) >= 8),
        |g AS (SELECT doc_id, gpos,
        |    substr(md5(array_to_string(
        |      ws[(CAST(gpos AS INT)+1):(CAST(gpos AS INT)+8)], ' ')),
        |      1, 16) AS gk
        |  FROM gx),
        |dup AS (SELECT gk FROM g GROUP BY gk HAVING COUNT(*) > 1),
        |st AS (SELECT doc_id, gpos FROM g JOIN dup USING (gk)),
        |tx AS (SELECT doc_id, ws,
        |    CAST(unnest(range(0, len(ws))) AS BIGINT) AS pos FROM d),
        |tk AS (SELECT t.doc_id, t.pos,
        |    t.ws[CAST(t.pos AS INT)+1] AS tok,
        |    CASE WHEN st.gpos IS NOT NULL THEN 1 ELSE 0 END AS s
        |  FROM tx t LEFT JOIN st
        |    ON st.doc_id = t.doc_id AND st.gpos = t.pos),
        |cv AS (SELECT doc_id, pos, tok,
        |    MAX(s) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS covered
        |  FROM tk)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(covered) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN covered = 0 THEN tok END,
        |    ' ' ORDER BY pos), '')) AS new_fp
        |FROM cv GROUP BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents""".stripMargin,
    "ta_rolling_fingerprint" -> rollingHashOracle,
    // per-token rolling-hash replay, bucketed to the fixed feature space
    "ta_quality_classifier" ->
      graft.operators.TextAnalysis.qualityClassifierOracle,
    "ta_feature_hash" ->
      s"""WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
        |      AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647)
        |    % ${graft.operators.TextAnalysis.FeatureDims} AS dim
        |  FROM tok)
        |SELECT doc_id, dim, COUNT(*) AS tf FROM h GROUP BY doc_id, dim""".stripMargin,
    "ta_cdc_chunk" ->
      """WITH docs2 AS (
        |  SELECT doc_id, 'o' AS var, text FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'm', 'zz qq ' || text FROM documents),
        |w AS (SELECT doc_id, var,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM docs2),
        |p AS (SELECT doc_id, var, ws,
        |    CAST(unnest(range(0, len(ws))) AS BIGINT) AS pos FROM w),
        |t AS (SELECT doc_id, var, pos,
        |    ws[CAST(pos AS INT) + 1] AS tok,
        |    CASE WHEN pos >= 2 THEN
        |      ws[CAST(pos AS INT) - 1] || ' ' || ws[CAST(pos AS INT)] ||
        |      ' ' || ws[CAST(pos AS INT) + 1] END AS win
        |  FROM p),
        |f AS (SELECT doc_id, var, pos, tok,
        |    (pos >= 2 AND list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split_regex(win, ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 2147483647) % 16 = 0) AS bnd
        |  FROM t),
        |r AS (SELECT doc_id, var, pos, tok,
        |    COALESCE(SUM(CASE WHEN bnd THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id, var ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ci,
        |    pos // 16 AS cif
        |  FROM f),
        |cc AS (SELECT doc_id, var, ci,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
        |  FROM r GROUP BY doc_id, var, ci),
        |cf AS (SELECT doc_id, var, cif,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
        |  FROM r GROUP BY doc_id, var, cif),
        |ncc AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN var = 'o' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cdc_o,
        |    CAST(SUM(CASE WHEN var = 'm' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cdc_m
        |  FROM cc GROUP BY doc_id),
        |ncf AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN var = 'o' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fix_o,
        |    CAST(SUM(CASE WHEN var = 'm' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_fix_m
        |  FROM cf GROUP BY doc_id),
        |shc AS (SELECT doc_id, COUNT(*) AS shared_cdc FROM
        |    (SELECT DISTINCT doc_id, fp FROM cc WHERE var = 'o') a
        |    JOIN (SELECT DISTINCT doc_id, fp FROM cc WHERE var = 'm') b
        |      USING (doc_id, fp)
        |  GROUP BY doc_id),
        |shf AS (SELECT doc_id, COUNT(*) AS shared_fix FROM
        |    (SELECT DISTINCT doc_id, fp FROM cf WHERE var = 'o') a
        |    JOIN (SELECT DISTINCT doc_id, fp FROM cf WHERE var = 'm') b
        |      USING (doc_id, fp)
        |  GROUP BY doc_id)
        |SELECT doc_id, n_cdc_o, n_cdc_m,
        |  COALESCE(shared_cdc, 0) AS shared_cdc,
        |  n_fix_o, n_fix_m, COALESCE(shared_fix, 0) AS shared_fix
        |FROM ncc JOIN ncf USING (doc_id)
        |LEFT JOIN shc USING (doc_id) LEFT JOIN shf USING (doc_id)""".stripMargin,
    "ta_dsir" ->
      s"""WITH tok AS (SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
        |      AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, lang, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(tok, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 2147483647)
        |    % ${graft.operators.TextAnalysis.FeatureDims} AS dim
        |  FROM tok),
        |raw AS (SELECT dim,
        |    CAST(floor(ln(COUNT(*) + 1) * 1e2 + 0.5) AS BIGINT) AS qr
        |  FROM h GROUP BY dim),
        |tgt AS (SELECT dim,
        |    CAST(floor(ln(COUNT(*) + 1) * 1e2 + 0.5) AS BIGINT) AS qt
        |  FROM h WHERE lang = 'en' GROUP BY dim),
        |doc AS (SELECT doc_id, COUNT(*) AS n_tok,
        |    CAST(SUM(COALESCE(qt, 0) - qr) AS BIGINT) AS w_cu
        |  FROM h JOIN raw USING (dim) LEFT JOIN tgt USING (dim)
        |  GROUP BY doc_id),
        |tot AS (SELECT CAST(SUM(w_cu) AS BIGINT) AS tw,
        |    CAST(SUM(n_tok) AS BIGINT) AS tn FROM doc)
        |SELECT doc_id, n_tok, w_cu,
        |  CAST(w_cu AS HUGEINT) * tn >= CAST(tw AS HUGEINT) * n_tok
        |    AS selected
        |FROM doc CROSS JOIN tot""".stripMargin,
    // SQL-text front-end twins: held to the same oracles as the DataFrame
    // formulations they mirror (sql_text_agg's statement is itself the
    // engine-portable ANSI subset, so the SAME string is the oracle)
    "sql_text_agg" -> graft.operators.SqlSurface.TextAggSql,
    "sql_text_rolling" -> rollingHashOracle,
    "sql_text_knn" -> knnBruteOracle,
    "sql_recursive_cte" ->
      """WITH RECURSIVE tree AS (
        |  SELECT c_custkey AS k, c_custkey AS root, 0 AS depth,
        |         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, t.root, t.depth + 1,
        |         CAST(c.c_acctbal AS DECIMAL(12,2))
        |  FROM customer c JOIN tree t ON c.c_custkey // 10 = t.k
        |  WHERE c.c_custkey >= 10
        |)
        |SELECT root, depth, COUNT(*) AS n_members,
        |       CAST(SUM(bal) AS DOUBLE) AS sum_bal, MAX(k) AS max_key
        |FROM tree GROUP BY root, depth""".stripMargin,
    "sql_text_minhash" -> graft.operators.Dedup.minhashProbeOracle,
    // TIMESTAMP time travel: wall-clock isn't replayable, so resolution
    // mechanics travel as booleans; the hashed content is the AS OF
    // snapshot — exactly base + first delta
    "op_txn_asof" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |u AS (SELECT * FROM b
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'A', price FROM b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
        |  TRUE AS asof_ok FROM u""".stripMargin,
    // clustering evolution: the od slice is replayable (od = key % 32,
    // delta shift 1e8 ≡ 0 mod 32); the cross-generation prune
    // accounting travels as a boolean
    "op_txn_recluster" ->
      """WITH b AS (SELECT o_orderkey, o_orderkey % 32 AS od,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |u AS (SELECT * FROM b
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, od, price FROM b
        |  WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, od, CAST(price AS DOUBLE) AS price,
        |  TRUE AS recluster_ok
        |FROM u WHERE od >= 3 AND od <= 4""".stripMargin,
    // manifest-stats join planning: the aggregate is trivially
    // replayable; the paired-plan broadcast flip and the NDV/row-count
    // accuracy travel as a boolean
    "op_ndv_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  TRUE AS ndv_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    // SQL-addressed snapshot log: VERSION AS OF 1 is exactly the base
    // slice (the second insert's shifted keys invisible); the
    // TIMESTAMP AS OF agreement travels as a boolean
    "sql_txn_timetravel" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  TRUE AS tt_ok FROM orders""".stripMargin,
    // SQL UPDATE through the catalog: assignment + predicate replayed
    // arithmetically; trail + pinning travel as a boolean
    "sql_txn_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 13 = 0 THEN 'R'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  CAST(CASE WHEN o_orderkey % 13 = 0
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) + 50
        |      AS DECIMAL(12,2))
        |    ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS DOUBLE)
        |    AS price,
        |  TRUE AS upd_ok
        |FROM orders""".stripMargin,
    // SQL MERGE INTO through the catalog: the CDC rules are replayed
    // arithmetically (update %5 outside %7, delete %7, insert shifted
    // %11); trail + pinning travel as a boolean
    "sql_txn_merge" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |merged AS (
        |  SELECT k,
        |    CASE WHEN k % 5 = 0 AND k % 7 <> 0 THEN 'U' ELSE st END AS st,
        |    CASE WHEN k % 5 = 0 AND k % 7 <> 0
        |      THEN CAST(price + 100 AS DECIMAL(12,2)) ELSE price END AS price
        |  FROM b WHERE k % 7 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, 'N', price FROM b WHERE k % 11 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS merge_ok
        |FROM merged""".stripMargin,
    // Full-sync MERGE (NOT MATCHED BY SOURCE): matched keys update
    // (%3=0 repriced), absent keys (%3=2) age to 'X' when price>1000
    // else delete, shifted %17 keys insert — all replayable arithmetic
    "sql_txn_merge_sync" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |merged AS (
        |  SELECT k,
        |    CASE WHEN k % 3 = 2 THEN 'X' ELSE st END AS st,
        |    CASE WHEN k % 3 = 0 THEN CAST(price + 50 AS DECIMAL(12,2))
        |      ELSE price END AS price
        |  FROM b WHERE k % 3 < 2 OR (k % 3 = 2 AND price > 1000)
        |  UNION ALL
        |  SELECT k + 300000000, 'S', price FROM b WHERE k % 17 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS sync_ok
        |FROM merged""".stripMargin,
    // The change feed as a metadata table: both signed diffs replayed —
    // v1→v2 under (upd %50 +100 / del %61 / ins %97 shift 1e8 'N'),
    // v2→v3 under (upd %30 +50 / del %77 / ins %89 shift 2e8 'M');
    // a changed row emits (-1 old, +1 new), absent→present +1 only,
    // present→absent -1 only, unchanged rows never appear
    "sql_txn_changes" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(14,2)) AS price FROM orders),
        |v1 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 50 = 0 THEN price + 100 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM b WHERE NOT (k % 61 = 0 AND k % 50 <> 0)
        |  UNION ALL SELECT k + 100000000, 'N', price FROM b WHERE k % 97 = 0),
        |v2 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 30 = 0 THEN price + 50 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM v1 WHERE NOT (k % 77 = 0 AND k % 30 <> 0)
        |  UNION ALL SELECT k + 200000000, 'M', price FROM v1 WHERE k % 89 = 0),
        |d1 AS (SELECT COALESCE(a.k, c.k) AS k,
        |    a.k IS NOT NULL AS ina, c.k IS NOT NULL AS inb,
        |    a.st AS ast, a.price AS apr, c.st AS bst, c.price AS bpr
        |  FROM b a FULL OUTER JOIN v1 c ON a.k = c.k),
        |f1 AS (SELECT k, -1 AS w, ast AS st, apr AS price FROM d1
        |    WHERE ina AND (NOT inb OR ast IS DISTINCT FROM bst
        |      OR apr IS DISTINCT FROM bpr)
        |  UNION ALL
        |  SELECT k, 1, bst, bpr FROM d1
        |    WHERE inb AND (NOT ina OR ast IS DISTINCT FROM bst
        |      OR apr IS DISTINCT FROM bpr)),
        |d2 AS (SELECT COALESCE(a.k, c.k) AS k,
        |    a.k IS NOT NULL AS ina, c.k IS NOT NULL AS inb,
        |    a.st AS ast, a.price AS apr, c.st AS bst, c.price AS bpr
        |  FROM v1 a FULL OUTER JOIN v2 c ON a.k = c.k),
        |f2 AS (SELECT k, -1 AS w, ast AS st, apr AS price FROM d2
        |    WHERE ina AND (NOT inb OR ast IS DISTINCT FROM bst
        |      OR apr IS DISTINCT FROM bpr)
        |  UNION ALL
        |  SELECT k, 1, bst, bpr FROM d2
        |    WHERE inb AND (NOT ina OR ast IS DISTINCT FROM bst
        |      OR apr IS DISTINCT FROM bpr))
        |SELECT k AS o_orderkey, w, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS ch_ok
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2)""".stripMargin,
    // Composite-key MERGE: one custkey quarter updated (+10, ok%5<>0) /
    // deleted (ok%5=0), keyspace-shifted inserts (ok%11) — replayable
    "sql_txn_merge_multi" ->
      """WITH b AS (SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(ck) AS cmin, MAX(ck) - MIN(ck) AS span FROM b),
        |r AS (SELECT cmin + (span+1)//4 AS lo,
        |             cmin + 2*(span+1)//4 AS hi FROM m),
        |merged AS (
        |  SELECT ck, ok,
        |    CASE WHEN ck >= lo AND ck < hi AND ok % 5 <> 0
        |      THEN CAST(price + 10 AS DECIMAL(12,2)) ELSE price END AS price
        |  FROM b, r WHERE NOT (ck >= lo AND ck < hi AND ok % 5 = 0)
        |  UNION ALL
        |  SELECT ck, ok + 500000000, price
        |  FROM b, r WHERE ck >= lo AND ck < hi AND ok % 11 = 0)
        |SELECT ck, ok, CAST(price AS DOUBLE) AS price, TRUE AS cmulti_ok
        |FROM merged""".stripMargin,
    // String-keyed MERGE: one status prefix region updated (+10,
    // k%5<>0) / deleted (k%5=0), '~'-suffixed inserts (k%11) — all
    // replayable; DuckDB replays the sid construction with lpad
    "sql_txn_merge_str" ->
      """WITH b AS (SELECT o_orderstatus AS st, o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |v AS (SELECT MIN(o_orderstatus) AS vs FROM orders),
        |merged AS (
        |  SELECT st || '-' || lpad(CAST(k AS VARCHAR), 10, '0') AS sid,
        |    CASE WHEN st = vs AND k % 5 <> 0
        |      THEN CAST(price + 10 AS DECIMAL(12,2)) ELSE price END AS price
        |  FROM b, v WHERE NOT (st = vs AND k % 5 = 0)
        |  UNION ALL
        |  SELECT st || '~' || lpad(CAST(k AS VARCHAR), 10, '0'), price
        |  FROM b, v WHERE st = vs AND k % 11 = 0)
        |SELECT sid, CAST(price AS DOUBLE) AS price, TRUE AS smstr_ok
        |FROM merged""".stripMargin,
    // Manifest-stat file skipping on the SQL read path: the second
    // quarter's rows replayed from the cut arithmetic; the measured
    // kept/total file accounting travels as a boolean
    // days(ts) transform through SQL: the first day-quarter rows,
    // value rounded through the table's DECIMAL(12,2) column
    "sql_txn_days" ->
      """WITH b AS (SELECT epoch_us(MIN(ts)) // 86400000000 AS dmin,
        |    epoch_us(MAX(ts)) // 86400000000 AS dmax FROM events),
        |r AS (SELECT dmin,
        |    dmin + ((dmax - dmin) + 1) // 4 AS d1 FROM b)
        |SELECT event_id, event_type,
        |  CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS value,
        |  TRUE AS days_ok
        |FROM events, r
        |WHERE epoch_us(ts) >= dmin * 86400000000
        |  AND epoch_us(ts) < d1 * 86400000000""".stripMargin,
    // Metadata-only aggregates: the whole-table count/min/max row the
    // manifest answers without opening a file, recomputed by the
    // oracle over the same source slice; the instrumentation
    // (metadata path taken, no file index built, filtered/tombstoned
    // refusals, scan parity) travels as a boolean
    "sql_txn_agg_push" ->
      """SELECT count(*) AS cnt, count(o_orderkey) AS cnt_k,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
        |  TRUE AS agg_ok
        |FROM orders""".stripMargin,
    // Bloom-sidecar point-lookup pruning through pure SQL: the min
    // key's aggregate (replayable); the before/after scan accounting
    // (pre-bloom full keep, post-bloom prune, day-range stats intact)
    // travels as a boolean
    "sql_txn_bloom" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total,
        |  TRUE AS bloom_ok
        |FROM b WHERE k = (SELECT MIN(k) FROM b)""".stripMargin,
    "sql_txn_skip" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS skip_ok
        |FROM b, r WHERE k >= lo AND k < hi""".stripMargin,
    // id-list DELETE: the survivors — every 31st key of quarter 2 gone,
    // the other three quarters untouched (per-value file pruning)
    "sql_txn_delete_in" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS din_ok
        |FROM b, r WHERE NOT (k >= lo AND k < hi AND k % 31 = 0)""".stripMargin,
    // the string-keyed id-list delete: survivors = everything except
    // quarter-2 keys divisible by 31, addressed by the synthetic
    // zero-padded uid (lexicographic == key order)
    "sql_txn_delete_in_str" ->
      """WITH b AS (SELECT
        |    'u' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS uid,
        |    o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p,
        |    o_orderkey AS k FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT uid, st, CAST(p AS DOUBLE) AS price, TRUE AS dins_ok
        |FROM b, r WHERE NOT (k >= lo AND k < hi AND k % 31 = 0)""".stripMargin,
    // the final answer (after the 'Z' cdc insert AND the feed-less 'W'
    // insert) == a direct recompute of the base content — the rewrite,
    // compensated or fallen-through, is invisible in results
    "sql_mv_rewrite" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, p FROM b
        |  UNION ALL SELECT 'Z', p FROM b WHERE k % 10 = 0
        |  UNION ALL SELECT 'W', p FROM b WHERE k % 20 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvr_ok
        |FROM fin GROUP BY st""".stripMargin,
    // rollup-over-compensation: the status-level aggregate of the
    // moved base (deletes %6, repricing %11, a new (R, 9-NEW) group)
    "sql_mv_rollup" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, CASE WHEN k % 11 = 0
        |      THEN CAST(p + 7 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0
        |  UNION ALL SELECT 'R', p FROM b WHERE k % 13 = 0)
        |SELECT st, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS rollup_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the mid-history time-travel read: batch 1's effect only (group
    // 'P' deleted), batch 2's 'Z' group not yet born
    "sql_mv_timetravel" ->
      """WITH b AS (SELECT o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS mvtt_ok
        |FROM b WHERE st <> 'P' GROUP BY st""".stripMargin,
    // the refreshed aggregate after a vacuum(1) that kept the feed
    // tail: deletes 6|k, repricing +13 on 11|k survivors
    "sql_mv_retention" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, CASE WHEN k % 11 = 0
        |      THEN CAST(p + 13 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0)
        |SELECT st, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvrt_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the final fleet listing is deterministic version arithmetic:
    // cursor 3 (create@1, cdc@2, compact@3, refreshed), head 4 (the
    // feed-less append), every view unservable — the mv paths are
    // scratch-random and stay out of the hashed output
    "sql_mv_show" ->
      """SELECT * FROM (VALUES
        |  ('extrema', FALSE, FALSE, CAST(3 AS BIGINT),
        |   CAST(4 AS BIGINT), TRUE),
        |  ('fold', FALSE, FALSE, CAST(3 AS BIGINT),
        |   CAST(4 AS BIGINT), TRUE),
        |  ('join', FALSE, FALSE, CAST(3 AS BIGINT),
        |   CAST(4 AS BIGINT), TRUE))
        |  AS t(kind, fresh, servable, cursor, head, show_ok)""".stripMargin,
    // the per-day distinct-users rollup over the moved base: every
    // cust%10 user's rows deleted, +900000 users born on 17|k,
    // repricing +11 on 7|k survivors (sums move, distincts don't)
    "sql_mv_distinct" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderpriority AS day,
        |    o_custkey AS cust,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT day, cust, CASE WHEN k % 7 = 0
        |      THEN CAST(p + 11 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE cust % 10 <> 0
        |  UNION ALL SELECT day, cust + 900000, p FROM b
        |    WHERE k % 17 = 0)
        |SELECT day, COUNT(DISTINCT cust) AS users, COUNT(*) AS n,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvdc_ok
        |FROM fin GROUP BY day""".stripMargin,
    // the three ROLLUP(st, pri) levels over the moved base, replayed
    // as an explicit union of rollups (no engine grouping_id dialect
    // dependence): deletes 6|k, repricing +7 on 11|k survivors, a
    // feed-born (R, 9-NEW) group for 13|k
    "sql_mv_groupsets" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, pri, CASE WHEN k % 11 = 0
        |      THEN CAST(p + 7 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0
        |  UNION ALL SELECT 'R', '9-NEW', p FROM b WHERE k % 13 = 0)
        |SELECT st, pri, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, CAST(0 AS BIGINT) AS gid,
        |  TRUE AS gsets_ok FROM fin GROUP BY st, pri
        |UNION ALL
        |SELECT st, NULL, COUNT(*), COUNT(p), CAST(SUM(p) AS DOUBLE),
        |  CAST(1 AS BIGINT), TRUE FROM fin GROUP BY st
        |UNION ALL
        |SELECT NULL, NULL, COUNT(*), COUNT(p), CAST(SUM(p) AS DOUBLE),
        |  CAST(3 AS BIGINT), TRUE FROM fin""".stripMargin,
    // the final joined aggregate: fact deletes 6|k + inserts for 9|k
    // (shifted keys, same customer), dim segment reassignment for
    // 10|custkey — the oracle replays the star join
    "sql_mv_join" ->
      """WITH f0 AS (SELECT o_orderkey AS k, o_custkey AS ck,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |f AS (SELECT k, ck, p FROM f0 WHERE k % 6 <> 0
        |  UNION ALL SELECT k + 700000000, ck, p FROM f0 WHERE k % 9 = 0),
        |d AS (SELECT c_custkey AS ck, CASE WHEN c_custkey % 10 = 0
        |    THEN 'MOVED' ELSE c_mktsegment END AS seg FROM customer)
        |SELECT seg, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS mvj_ok
        |FROM f JOIN d USING (ck) GROUP BY seg""".stripMargin,
    // the star aggregate after the fact batch (deletes 6|lid, inserts
    // for 11|lid) and the dim₂ brand reassignment (7|partkey)
    "sql_mv_star" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok, l_partkey AS pk,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p FROM lineitem),
        |f AS (SELECT lid, ok, pk, p FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL SELECT lid + 900000000, ok, pk, p FROM f0
        |    WHERE lid % 11 = 0),
        |o AS (SELECT o_orderkey AS ok, o_orderstatus AS st FROM orders),
        |pt AS (SELECT p_partkey AS pk, CASE WHEN p_partkey % 7 = 0
        |    THEN 'MOVED' ELSE p_brand END AS brand FROM part)
        |SELECT st, brand, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS star_ok
        |FROM f JOIN o USING (ok) JOIN pt USING (pk)
        |GROUP BY st, brand""".stripMargin,
    // the moved star after the SCD-1 brand move (3 part keys → 'SCD1')
    // and the fact cdc batch, both folded by ONE refresh
    "sql_mv_star_scd" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok, l_partkey AS pk,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p FROM lineitem),
        |f AS (SELECT lid, ok, pk, p FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL SELECT lid + 900000000, ok, pk, p FROM f0
        |    WHERE lid % 11 = 0),
        |o AS (SELECT o_orderkey AS ok, o_orderstatus AS st FROM orders),
        |pt AS (SELECT p_partkey AS pk, CASE WHEN p_partkey IN (5, 77,
        |    150) THEN 'SCD1' ELSE p_brand END AS brand FROM part)
        |SELECT st, brand, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS scd_ok
        |FROM f JOIN o USING (ok) JOIN pt USING (pk)
        |GROUP BY st, brand""".stripMargin,
    // the LIVE star after the feed-less brand move (%7 → 'LIVE1') and
    // the fact cdc batch — every phase's answer is the same replay,
    // because the live view's whole point is that it never diverges
    // from the current dim state
    "sql_mv_star_live" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok, l_partkey AS pk,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p FROM lineitem),
        |f AS (SELECT lid, ok, pk, p FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL SELECT lid + 900000000, ok, pk, p FROM f0
        |    WHERE lid % 11 = 0),
        |o AS (SELECT o_orderkey AS ok, o_orderstatus AS st FROM orders),
        |pt AS (SELECT p_partkey AS pk, CASE WHEN p_partkey % 7 = 0
        |    THEN 'LIVE1' ELSE p_brand END AS brand FROM part)
        |SELECT st, brand, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS live_ok
        |FROM f JOIN o USING (ok) JOIN pt USING (pk)
        |GROUP BY st, brand""".stripMargin,
    // the partial LIVE star after the feed-less st move (%7 → 'Z') and
    // the boundary-crossing fact batch, sliced at price > 1000 — the
    // same replay at every phase because the live view never diverges
    // from the current dim state
    "sql_mv_partial_live" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok,
        |    MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS p
        |  FROM lineitem GROUP BY 1, 2),
        |f AS (SELECT lid, ok,
        |    CASE WHEN lid % 7 = 1 THEN CAST(600 AS DECIMAL(12,2))
        |         WHEN lid % 9 = 2 THEN CAST(p + 5000 AS DECIMAL(12,2))
        |         ELSE p END AS p
        |  FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL
        |  SELECT lid + 800000000, ok, CAST(750 AS DECIMAL(12,2))
        |  FROM f0 WHERE lid % 13 = 0
        |  UNION ALL
        |  SELECT lid + 900000000, ok, CAST(p + 5000 AS DECIMAL(12,2))
        |  FROM f0 WHERE lid % 17 = 0),
        |o AS (SELECT o_orderkey AS ok, CASE WHEN o_orderkey % 7 = 0
        |    THEN 'Z' ELSE o_orderstatus END AS st FROM orders)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS plive_ok
        |FROM f JOIN o USING (ok) WHERE p > 1000 GROUP BY st""".stripMargin,
    // the partial STAR after the boundary-crossing fact batch (deletes
    // %6, reprice→600 %7=1, reprice+5000 %9=2, below-threshold 750
    // inserts, in-slice +5000 inserts) and the SCD st move, sliced at
    // price > 1000
    "sql_mv_partial_star" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok,
        |    MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS p
        |  FROM lineitem GROUP BY 1, 2),
        |f AS (SELECT lid, ok,
        |    CASE WHEN lid % 7 = 1 THEN CAST(600 AS DECIMAL(12,2))
        |         WHEN lid % 9 = 2 THEN CAST(p + 5000 AS DECIMAL(12,2))
        |         ELSE p END AS p
        |  FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL
        |  SELECT lid + 800000000, ok, CAST(750 AS DECIMAL(12,2))
        |  FROM f0 WHERE lid % 13 = 0
        |  UNION ALL
        |  SELECT lid + 900000000, ok, CAST(p + 5000 AS DECIMAL(12,2))
        |  FROM f0 WHERE lid % 17 = 0),
        |o AS (SELECT o_orderkey AS ok, CASE WHEN o_orderkey IN (7, 66,
        |    129) THEN 'Z' ELSE o_orderstatus END AS st FROM orders)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS pstar_ok
        |FROM f JOIN o USING (ok) WHERE p > 1000 GROUP BY st""".stripMargin,
    // the partial (price > 100) dashboard after the boundary-crossing
    // batch: deletes %6, reprice→60 %7=1, reprice+1000 %9=2 (exclusions
    // mirror the change set's key-uniqueness guards), below-threshold
    // 'Q' inserts (excluded by the slice), in-slice 'Z' inserts
    "sql_mv_partial" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |f AS (SELECT k, st,
        |    CASE WHEN k % 7 = 1 THEN CAST(60 AS DECIMAL(12,2))
        |         WHEN k % 9 = 2 THEN CAST(p + 1000 AS DECIMAL(12,2))
        |         ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0
        |  UNION ALL
        |  SELECT k + 400000000, 'Q', CAST(75 AS DECIMAL(12,2))
        |  FROM b WHERE k % 13 = 0
        |  UNION ALL
        |  SELECT k + 500000000, 'Z', CAST(p + 200 AS DECIMAL(12,2))
        |  FROM b WHERE k % 17 = 0)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS par_ok
        |FROM f WHERE p > 100 GROUP BY st""".stripMargin,
    // the sliced extrema pane after the membership batch: the
    // in-slice min band deleted, out-of-slice rows entering high,
    // in-slice rows leaving, an invisible out-of-slice delete
    "sql_mv_partial_extrema" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_totalprice AS tp,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |f AS (SELECT k, st,
        |    CASE WHEN tp <= 10000 AND k % 3 = 0
        |           THEN CAST(p + 100000 AS DECIMAL(12,2))
        |         WHEN tp > 100000 AND k % 5 = 1
        |           THEN CAST(500 AS DECIMAL(12,2))
        |         ELSE p END AS p
        |  FROM b
        |  WHERE NOT (tp > 10000 AND tp <= 20000)
        |    AND NOT (tp <= 10000 AND k % 3 = 1 AND k % 7 = 0))
        |SELECT st, COUNT(*) AS n, CAST(MIN(p) AS DOUBLE) AS lo,
        |  CAST(MAX(p) AS DOUBLE) AS hi, TRUE AS parx_ok
        |FROM f WHERE p > 10000 GROUP BY st""".stripMargin,
    // the percentile pane after the batch: deletes %6, +1000 reprices
    // %7, the new 77777.77 value %13 — replayed with quantile_cont
    // (the q29-proven cross-engine percentile pair)
    "sql_mv_percentile" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |f AS (SELECT k, st,
        |    CASE WHEN k % 7 = 1 THEN CAST(p + 1000 AS DECIMAL(12,2))
        |         WHEN k % 13 = 2 THEN CAST(77777.77 AS DECIMAL(12,2))
        |         ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0)
        |SELECT st, quantile_cont(CAST(p AS DOUBLE), 0.5) AS p50,
        |  quantile_cont(CAST(p AS DOUBLE), 0.95) AS p95,
        |  quantile_cont(CAST(p AS DOUBLE), 0.5) AS med,
        |  COUNT(*) AS n, TRUE AS parp_ok
        |FROM f GROUP BY st""".stripMargin,
    // the DDL-created fold view's dashboard after the Z batch
    "sql_mv_ddl" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |f AS (SELECT k, st, p FROM b
        |  UNION ALL SELECT k + 100000000, 'Z', p FROM b WHERE k % 10 = 0)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS ddl_ok
        |FROM f GROUP BY st""".stripMargin,
    // the fact-to-fact join after BOTH sides moved: lineitem deletes
    // %6 / shifted inserts %11, orders' 3 lowest keys → 'Z9'
    "sql_mv_fact2" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok, l_returnflag AS flag,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p FROM lineitem),
        |f AS (SELECT lid, ok, flag, p FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL SELECT lid + 900000000, ok, flag, p FROM f0
        |    WHERE lid % 11 = 0),
        |low3 AS (SELECT o_orderkey AS k FROM orders ORDER BY 1 LIMIT 3),
        |o AS (SELECT o_orderkey AS ok, CASE WHEN o_orderkey IN
        |    (SELECT k FROM low3) THEN 'Z9' ELSE o_orderstatus END AS st
        |  FROM orders)
        |SELECT flag, st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS f2_ok
        |FROM f JOIN o USING (ok) GROUP BY flag, st""".stripMargin,
    // the three ROLLUP(st, brand) levels over the moved star (fact
    // deletes 6|lid, shifted inserts 11|lid; dims untouched), replayed
    // as an explicit union of rollups
    "sql_mv_star_gsets" ->
      """WITH f0 AS (SELECT l_orderkey * 10 + l_linenumber AS lid,
        |    l_orderkey AS ok, l_partkey AS pk,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS p FROM lineitem),
        |f AS (SELECT lid, ok, pk, p FROM f0 WHERE lid % 6 <> 0
        |  UNION ALL SELECT lid + 900000000, ok, pk, p FROM f0
        |    WHERE lid % 11 = 0),
        |o AS (SELECT o_orderkey AS ok, o_orderstatus AS st FROM orders),
        |pt AS (SELECT p_partkey AS pk, p_brand AS brand FROM part),
        |j AS (SELECT st, brand, p FROM f JOIN o USING (ok)
        |  JOIN pt USING (pk))
        |SELECT st, brand, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, CAST(0 AS BIGINT) AS gid,
        |  TRUE AS sgs_ok FROM j GROUP BY st, brand
        |UNION ALL
        |SELECT st, NULL, COUNT(*), COUNT(p), CAST(SUM(p) AS DOUBLE),
        |  CAST(1 AS BIGINT), TRUE FROM j GROUP BY st
        |UNION ALL
        |SELECT NULL, NULL, COUNT(*), COUNT(p), CAST(SUM(p) AS DOUBLE),
        |  CAST(3 AS BIGINT), TRUE FROM j""".stripMargin,
    // the post-refresh extrema rollup after deleting every row holding
    // F's max: the second max answers at every subtotal level,
    // replayed as an explicit union of rollups
    "sql_mv_extrema_gsets" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |lim AS (SELECT MAX(p) AS fmax FROM b WHERE st = 'F'),
        |fin AS (SELECT st, pri, p FROM b, lim
        |  WHERE NOT (st = 'F' AND p IS NOT DISTINCT FROM fmax))
        |SELECT st, pri, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(MIN(p) AS DOUBLE) AS vmin, CAST(MAX(p) AS DOUBLE)
        |  AS vmax, CAST(0 AS BIGINT) AS gid, TRUE AS xgs_ok
        |FROM fin GROUP BY st, pri
        |UNION ALL
        |SELECT st, NULL, COUNT(*), COUNT(p), CAST(MIN(p) AS DOUBLE),
        |  CAST(MAX(p) AS DOUBLE), CAST(1 AS BIGINT), TRUE
        |FROM fin GROUP BY st
        |UNION ALL
        |SELECT NULL, NULL, COUNT(*), COUNT(p), CAST(MIN(p) AS DOUBLE),
        |  CAST(MAX(p) AS DOUBLE), CAST(3 AS BIGINT), TRUE
        |FROM fin""".stripMargin,
    // per-status extrema after the delete of every row holding F's max:
    // the second max answers; all other groups keep their extremes
    "sql_mv_extrema" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |lim AS (SELECT MAX(p) AS fmax FROM b WHERE st = 'F'),
        |fin AS (SELECT st, p FROM b, lim
        |  WHERE NOT (st = 'F' AND p IS NOT DISTINCT FROM fmax))
        |SELECT st, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(MIN(p) AS DOUBLE) AS vmin, CAST(MAX(p) AS DOUBLE) AS vmax,
        |  TRUE AS mve_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the filtered rollup over the moved base: deletes 5|k, repricing
    // +9 on 7|k survivors, a feed-born ('Q','1-URGENT') group for
    // 13|k — then only the '1-URGENT' slice, grouped by status
    "sql_mv_filter" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, pri, CASE WHEN k % 7 = 0
        |      THEN CAST(p + 9 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 5 <> 0
        |  UNION ALL SELECT 'Q', '1-URGENT', p FROM b WHERE k % 13 = 0)
        |SELECT st, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvf_ok
        |FROM fin WHERE pri = '1-URGENT' GROUP BY st""".stripMargin,
    // value-grain money view: the sliced per-price aggregate after the
    // one cdc batch (deletes, +9.50 repricings, a new in-slice price
    // point), replayed arithmetically; prune/serve mechanics travel as
    // the mvdec_ok boolean
    "sql_mv_decimal" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |fin AS (SELECT CASE WHEN k % 7 = 0
        |      THEN CAST(price + 9.50 AS DECIMAL(12,2))
        |      ELSE price END AS price
        |  FROM b WHERE k % 5 <> 0
        |  UNION ALL SELECT CAST(150000.75 AS DECIMAL(12,2))
        |  FROM b WHERE k % 13 = 0)
        |SELECT CAST(price AS DOUBLE) AS p, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, TRUE AS mvdec_ok
        |FROM fin WHERE price >= 100000.50 AND price <= 200000.25
        |GROUP BY price""".stripMargin,
    // the compensated answer == a direct recompute of the base after
    // both cdc batches: group 'P' gone, every 7th surviving row
    // repriced +5, brand-new group 'X' with NULL prices on 3|k
    "sql_mv_delta" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |kept AS (SELECT st, CASE WHEN k % 7 = 0
        |      THEN CAST(p + 5 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE st <> 'P'),
        |x AS (SELECT 'X' AS st, CASE WHEN k % 3 = 0
        |      THEN CAST(NULL AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 13 = 0),
        |fin AS (SELECT st, p FROM kept UNION ALL SELECT st, p FROM x)
        |SELECT st AS o_orderstatus, COUNT(*) AS n, COUNT(p) AS nn,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvd_ok
        |FROM fin GROUP BY st""".stripMargin,
    // runtime join-driven file pruning: the fact table's content is the
    // four quarter inserts = the full lineitem projection, so the oracle
    // is the plain join with the dim's selective filter replayed
    "sql_txn_dpp" ->
      """WITH m AS (SELECT MIN(l_orderkey) AS kmin,
        |    MAX(l_orderkey) - MIN(l_orderkey) AS span FROM lineitem),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT f.l_orderkey, COUNT(*) AS nli,
        |  CAST(SUM(CAST(f.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    AS amt, TRUE AS dpp_ok
        |FROM lineitem f JOIN orders d ON f.l_orderkey = d.o_orderkey, r
        |WHERE d.o_orderkey >= r.lo AND d.o_orderkey < r.hi
        |  AND d.o_orderkey % 2 = 0
        |GROUP BY f.l_orderkey""".stripMargin,
    // ALTER TABLE ADD COLUMN through the catalog: old rows read the new
    // column as NULL, the post-evolution insert computes it; the
    // metadata-only property travels as a boolean
    "sql_txn_evolve" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k AS o_orderkey, CAST(price AS DOUBLE) AS price,
        |  CAST(NULL AS DOUBLE) AS bonus, TRUE AS evolve_ok FROM b
        |UNION ALL
        |SELECT k + 100000000, CAST(price AS DOUBLE),
        |  CAST(k % 100 AS DOUBLE), TRUE FROM b WHERE k % 13 = 0""".stripMargin,
    // Maintenance as SQL: the audit trail read back through the
    // `.history` metadata table after compact/checkpoint/restore/vacuum
    // procedures — literal at any SF (single-file inserts); the
    // lifecycle assertions travel as a boolean
    "sql_txn_history" ->
      """SELECT CAST(version AS BIGINT) AS version, operation,
        |  CAST(live_files AS BIGINT) AS live_files, TRUE AS maint_ok
        |FROM (VALUES (0, 'create', 1), (1, 'append', 2),
        |  (2, 'append', 3), (3, 'compact', 1),
        |  (4, 'append', 2), (5, 'restore', 1))
        |  AS t(version, operation, live_files)""".stripMargin,
    // CHECK constraints: rejected writes leave no trace, so the final
    // content is just the valid operations — %19 repriced (+5), %23
    // inserts shifted by the derived keyspace cut (max key + 1, the
    // same at-any-SF arithmetic the scenario computes) after the
    // keyspace check was dropped, and the %29 rows the CLEAN streamed
    // epoch appended (the violating epoch landed nothing)
    "sql_txn_check" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MAX(o_orderkey) + 1 AS bound FROM orders)
        |SELECT k AS o_orderkey,
        |  CAST(CASE WHEN k % 19 = 0 THEN price + 5 ELSE price END
        |    AS DOUBLE) AS price,
        |  TRUE AS check_ok FROM b
        |UNION ALL
        |SELECT k + bound, CAST(price AS DOUBLE), TRUE
        |FROM b, m WHERE k % 23 = 0
        |UNION ALL
        |SELECT k + 2 * bound, CAST(price AS DOUBLE), TRUE
        |FROM b, m WHERE k % 29 = 0""".stripMargin,
    // Named vacuum-shielded tags: the final content after the
    // overwrite (%13 shift) + append (%17 shift) — replayable; the
    // pin/shield/immutability/release mechanics travel as a boolean
    // Named writable branches: final main content after two
    // fast-forwards (%13, %17, %19 branch inserts) plus main's own
    // %23 insert — replayable; the pin/ff-once/non-ff-refusal
    // mechanics travel as a boolean
    "sql_txn_branch" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k AS o_orderkey, CAST(price AS DOUBLE) AS price,
        |  TRUE AS br_ok FROM b
        |UNION ALL
        |SELECT k + 100000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 13 = 0
        |UNION ALL
        |SELECT k + 200000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 17 = 0
        |UNION ALL
        |SELECT k + 300000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 19 = 0
        |UNION ALL
        |SELECT k + 400000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 23 = 0
        |UNION ALL
        |SELECT k + 500000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 29 = 0""".stripMargin,
    "sql_txn_tag" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k + 100000000 AS o_orderkey, CAST(price AS DOUBLE) AS price,
        |  TRUE AS tag_ok FROM b WHERE k % 13 = 0
        |UNION ALL
        |SELECT k + 200000000, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 17 = 0""".stripMargin,
    // RENAME/DROP/re-ADD COLUMN via column mapping: base rows read their
    // old price bytes under the new 'amount' name with the re-added note
    // NULL; %13 keyspace-shifted rows likewise; %17 rows carry 'R' —
    // all replayable arithmetic, mapping mechanics travel as a boolean
    "sql_txn_rename" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k AS o_orderkey, CAST(price AS DOUBLE) AS amount,
        |  CAST(NULL AS VARCHAR) AS note, TRUE AS rn_ok FROM b
        |UNION ALL
        |SELECT k + 100000000, CAST(price AS DOUBLE),
        |  CAST(NULL AS VARCHAR), TRUE FROM b WHERE k % 13 = 0
        |UNION ALL
        |SELECT k + 200000000, CAST(price AS DOUBLE), 'R', TRUE
        |FROM b WHERE k % 17 = 0""".stripMargin,
    // DESCRIBE DETAIL as a metadata table: the replayable operational
    // columns are literal at any SF (single-file inserts); wall-clock
    // ts and parquet byte sizes are asserted in-scenario → boolean
    "sql_txn_detail" ->
      """SELECT CAST(6 AS BIGINT) AS format, CAST(2 AS BIGINT) AS version,
        |  'append' AS operation, CAST(3 AS BIGINT) AS num_files,
        |  'o_orderkey' AS index_cols, '' AS str_index_cols,
        |  CAST(0 AS BIGINT) AS num_tombstones,
        |  CAST(0 AS BIGINT) AS num_cdc_files,
        |  CAST(2 AS BIGINT) AS checkpoint_version,
        |  TRUE AS detail_ok""".stripMargin,
    // Merge-on-read delete visible to pure SQL reads: survivors are the
    // non-%9 keys; SQL/library parity, pinning and the zero-rewrite
    // property travel as a boolean
    "sql_txn_mor" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  TRUE AS mor_ok
        |FROM orders WHERE o_orderkey % 9 <> 0""".stripMargin,
    // SQL DELETE through the catalog: survivors replayed from the
    // quarter-cut rule; the metadata-only file accounting travels as a
    // boolean
    "sql_txn_delete" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS del_ok
        |FROM b, r WHERE k < lo OR k >= hi""".stripMargin,
    // String-keyed SQL DELETE: survivors are every status except the
    // lexicographically smallest; the metadata-only drop accounting
    // travels as a boolean
    "sql_txn_delete_str" ->
      """SELECT o_orderkey, o_orderstatus AS st,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  TRUE AS dstr_ok
        |FROM orders
        |WHERE o_orderstatus <> (SELECT MIN(o_orderstatus) FROM orders)""".stripMargin,
    // Multi-column SQL DELETE conjunction: key range pruned from the
    // manifest, status as residual; survivors replayed from both rules
    "sql_txn_delete_multi" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span+1)//4 AS lo,
        |             kmin + 2*(span+1)//4 AS hi FROM m)
        |SELECT k AS o_orderkey, st, CAST(price AS DOUBLE) AS price,
        |  TRUE AS dmulti_ok
        |FROM b, r WHERE NOT (k >= lo AND k < hi AND st = 'O')""".stripMargin,
    "ta_split" ->
      s"""SELECT ${splitBucketSql("doc_id")} AS split,
        |       COUNT(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "op_scd2" ->
      """SELECT o_orderkey, o_custkey, valid_from_us,
        |  LEAD(valid_from_us) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from_us, o_orderkey) AS valid_to_us,
        |  LEAD(valid_from_us) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from_us, o_orderkey) IS NULL AS is_current
        |FROM (SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS valid_from_us
        |      FROM orders)""".stripMargin,
    // bucketing must be invisible in results: the oracle is the plain join
    "op_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,
    // content invariance hash-checked from the base table; the file-count
    // contract travels as an oracle-asserted boolean (q30 pattern)
    "q44_compaction" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  TRUE AS compacted_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // multiset set ops: duplicates survive with bag multiplicities
    "q48_set_ops_all" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus FROM orders),
        |a AS (SELECT o_custkey, o_orderstatus FROM o WHERE o_orderkey % 3 <> 0),
        |b AS (SELECT o_custkey, o_orderstatus FROM o WHERE o_orderkey % 2 = 0),
        |i AS (SELECT o_orderstatus, COUNT(*) AS n_intersect
        |  FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
        |e AS (SELECT o_orderstatus, COUNT(*) AS n_except
        |  FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
        |SELECT COALESCE(i.o_orderstatus, e.o_orderstatus) AS o_orderstatus,
        |  COALESCE(n_intersect, 0) AS n_intersect,
        |  COALESCE(n_except, 0) AS n_except
        |FROM i FULL OUTER JOIN e ON i.o_orderstatus = e.o_orderstatus""".stripMargin,
    // the NULL battery: null group keys, COUNT variants, COALESCE/NULLIF,
    // null-safe equality — nulls injected deterministically by key
    "q49_null_semantics" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS st,
        |    CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |         ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS pr
        |  FROM orders)
        |SELECT st, COUNT(*) AS n_rows, COUNT(pr) AS n_price,
        |  COUNT(DISTINCT pr) AS n_distinct_price,
        |  CAST(SUM(COALESCE(pr, 0)) AS DOUBLE) AS sum_coalesced,
        |  CAST(SUM(CASE WHEN pr IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_price,
        |  CAST(SUM(CASE WHEN NULLIF(st, 'F') IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nullif_f,
        |  CAST(SUM(CASE WHEN st IS NOT DISTINCT FROM 'O' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_eq_ns_o
        |FROM base GROUP BY st""".stripMargin,
    // values are the plain join aggregate; the catalog-stats-driven plan
    // divergence travels as an oracle-asserted boolean
    "q47_stats_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  TRUE AS stats_broadcast_ok
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_mktsegment""".stripMargin,
    // snapshot isolation: the v0-pinned reader hashes to the BASE content
    // even though a compaction and an append committed after it resolved;
    // the latest snapshot hashes to base+delta; txn_ok carries the log
    // mechanics (file counts, v0 files intact, versions 0..2)
    "op_txn_commit" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  'v0_reader' AS src, TRUE AS txn_ok
        |FROM b GROUP BY o_orderstatus
        |UNION ALL
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  'latest' AS src, TRUE AS txn_ok
        |FROM (SELECT * FROM b
        |      UNION ALL SELECT * FROM b WHERE o_orderkey % 97 = 0)
        |GROUP BY o_orderstatus""".stripMargin,
    // retention: after vacuum(retain=1) the latest snapshot's content is
    // unchanged; vacuum_ok asserts old files physically gone, latest files
    // intact, and a vacuumed-version read failing cleanly
    "op_vacuum" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  'latest' AS src, TRUE AS vacuum_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // four racing appenders through the commit CAS: synthetic data, so
    // the surviving per-group counts are literal at any SF
    "op_txn_race" ->
      """SELECT CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
        |  TRUE AS race_ok
        |FROM (VALUES (0, 280), (1, 280), (2, 280), (3, 280), (4, 280))
        |  AS t(grp, n)""".stripMargin,
    // file-level OCC: the final content composes every writer's rule —
    // synthetic data, a pure literal at any SF; the retry accounting
    // (zero recomputes for disjoint writers, exactly one for the true
    // overlap) travels as a boolean
    "op_txn_race2" ->
      """WITH keep AS (SELECT range AS k, range % 1000 AS v
        |  FROM range(0, 4000)
        |  WHERE NOT (range < 1000 AND range % 3 = 0)
        |    AND NOT (range >= 2000 AND range <= 2999 AND range % 5 = 0)
        |    AND NOT (range >= 3000 AND range <= 3499
        |             AND (range % 7 = 0 OR range % 11 = 0))),
        |app AS (SELECT 10000 + range AS k, range % 1000 AS v
        |    FROM range(0, 100)
        |  UNION ALL
        |  SELECT 20000 + range, range % 1000 FROM range(0, 100))
        |SELECT k, v, TRUE AS race2_ok FROM keep
        |UNION ALL
        |SELECT k, v, TRUE AS race2_ok FROM app""".stripMargin,
    // the audit trail read back from the manifests; the scenario's data
    // is synthetic and fixed, so the trail is literal at any SF
    "op_table_history" ->
      """SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_files AS BIGINT) AS n_files
        |FROM (VALUES (0, 'create', 8), (1, 'compact', 1),
        |  (2, 'append', 3), (3, 'overwrite', 2)) AS t(version, op, n_files)""".stripMargin,
    // the audit trail after a mid-log checkpoint — identical to the
    // checkpoint-free replay (literal: synthetic fixed scenario); the
    // read-count bound (1 checkpoint + 2 tail, not 6) travels as a boolean
    "op_txn_checkpoint" ->
      """SELECT CAST(version AS BIGINT) AS version, op,
        |  CAST(n_files AS BIGINT) AS n_files, TRUE AS ckpt_ok
        |FROM (VALUES (0, 'create', 8), (1, 'compact', 1),
        |  (2, 'append', 3), (3, 'overwrite', 2),
        |  (4, 'append', 3), (5, 'overwrite', 4)) AS t(version, op, n_files)""".stripMargin,
    // the incremental fold (v0 + signed change feeds) must hash-equal the
    // DIRECT recompute of v2, whose content the oracle replays by
    // initial defaults: pre-add rows answer the default literal, the
    // merge rewrites keep it, post-add rows keep their real values
    // (including real NULLs); the oracle replays the algebra directly
    "op_txn_default" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |fin AS (
        |  SELECT k, st, price, 'legacy' AS src,
        |    CAST(50 AS DECIMAL(12,2)) AS boost FROM b WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT k, 'U', CAST(price + 100 AS DECIMAL(12,2)), 'legacy',
        |    CAST(50 AS DECIMAL(12,2)) FROM b WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + 100000000, st, price, 'fresh',
        |    CASE WHEN k % 5 = 0 THEN CAST(NULL AS DECIMAL(12,2))
        |         ELSE CAST(k % 100 AS DECIMAL(12,2)) END
        |  FROM b WHERE k % 13 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, src,
        |  CAST(boost AS DOUBLE) AS boost, TRUE AS def_ok
        |FROM fin""".stripMargin,
    // the three transactional batches partition orders exactly (even
    // keys ∪ 1-mod-4 ∪ 3-mod-4); the ledger consistency travels as the
    // boolean — the hashed corpus is the full slice
    "op_txn_multi" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  TRUE AS multi_ok
        |FROM orders""".stripMargin,
    // the chained view: mv2 over mv1 over the twice-changed base —
    // n = #(status, priority) groups per status, total = the status sum
    // fold over the extrema view after both waves: +100000 inserts
    // (%19, shifted keyspace), then the 'F' inserts deleted again —
    // per st: group count and sum of per-(st,pri) maxima
    "op_mvx_chain" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |m AS (SELECT MAX(k) + 1 AS shift FROM b),
        |ins AS (SELECT k + shift AS k, st, pri,
        |    CAST(p + 100000 AS DECIMAL(12,2)) AS p FROM b, m
        |  WHERE k % 19 = 0),
        |fin AS (SELECT k, st, pri, p FROM b
        |  UNION ALL SELECT k, st, pri, p FROM ins WHERE st <> 'F'),
        |g AS (SELECT st, pri, MAX(p) AS vmax FROM fin GROUP BY st, pri)
        |SELECT st, COUNT(*) AS n, CAST(SUM(vmax) AS DOUBLE) AS total,
        |  TRUE AS mvxc_ok
        |FROM g GROUP BY st""".stripMargin,
    "op_mv_chain" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, pri, CASE
        |      WHEN k % 13 = 0 THEN CAST(p + 200 AS DECIMAL(12,2))
        |      WHEN k % 10 = 0 THEN CAST(p + 100 AS DECIMAL(12,2))
        |      ELSE p END AS p
        |  FROM b WHERE k % 9 <> 0 AND k % 11 <> 0
        |  UNION ALL SELECT 'N', '9-NEW', p FROM b WHERE k % 97 = 0
        |  UNION ALL SELECT 'M', '8-CHAIN', p FROM b WHERE k % 89 = 0),
        |m1 AS (SELECT st, pri, SUM(p) AS total FROM fin GROUP BY st, pri)
        |SELECT st, COUNT(*) AS n, CAST(SUM(total) AS DOUBLE) AS total,
        |  TRUE AS chain_ok
        |FROM m1 GROUP BY st""".stripMargin,
    // the live filtered dashboard after all four CDC batches: deletes
    // 9|k, repricing +100 on 11|k survivors, the feed-born
    // ('Q','1-URGENT') group for 13|k — only the '1-URGENT' slice
    "st_stream_mv_serve" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    o_orderpriority AS pri,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, pri, CASE WHEN k % 11 = 0
        |      THEN CAST(p + 100 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 9 <> 0
        |  UNION ALL SELECT 'Q', '1-URGENT', p FROM b WHERE k % 13 = 0)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS serve_ok
        |FROM fin WHERE pri = '1-URGENT' GROUP BY st""".stripMargin,
    // the final MAIN aggregate after the branch batch (published via
    // fastforward) and the parent batch: deletes 6|k, the branch-born
    // 'B' group for 13|k, repricing +11 on 7|k survivors, the parent
    // 'M' group for 17|k
    "op_mv_branch" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, CASE WHEN k % 7 = 0
        |      THEN CAST(p + 11 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 6 <> 0
        |  UNION ALL SELECT 'B', p FROM b WHERE k % 13 = 0
        |  UNION ALL SELECT 'M', p FROM b WHERE k % 17 = 0)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS mvb_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the extrema MV after both waves: wave 1 deletes interior 'F'
    // rows (7|k, strictly inside F's extremes) and inserts 'O'-bumps
    // (21|k, +100000) and an 'N' group (97|k); wave 2 deletes every
    // row holding F's max and P's min — the second extreme answers
    "op_mv_minmax" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |lim AS (SELECT MIN(p) AS fmin, MAX(p) AS fmax FROM b
        |  WHERE st = 'F'),
        |a1 AS (SELECT k, st, p FROM b, lim
        |    WHERE NOT (st = 'F' AND k % 7 = 0 AND p > fmin AND p < fmax)
        |  UNION ALL SELECT k + 800000000, 'O',
        |    CAST(p + 100000 AS DECIMAL(12,2)) FROM b WHERE k % 21 = 0
        |  UNION ALL SELECT k + 900000000, 'N', p FROM b WHERE k % 97 = 0),
        |lim2 AS (SELECT MAX(p) AS fmax2 FROM a1 WHERE st = 'F'),
        |lim3 AS (SELECT MIN(p) AS pmin2 FROM a1 WHERE st = 'P'),
        |fin AS (SELECT k, st, p FROM a1, lim2, lim3
        |  WHERE NOT (st = 'F' AND p = fmax2)
        |    AND NOT (st = 'P' AND p = pmin2))
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(MIN(p) AS DOUBLE) AS vmin, CAST(MAX(p) AS DOUBLE) AS vmax,
        |  TRUE AS mm_ok
        |FROM fin GROUP BY st""".stripMargin,
    // refresh over a COPY-ON-WRITE merge feed: the MV after the
    // three-shape change set (delete 8|k, reprice k%10=3 by +3,
    // insert an 'M' group for 17|k) == per-status recompute
    "op_mv_merge" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, CASE WHEN k % 10 = 3
        |      THEN CAST(p + 3 AS DECIMAL(12,2)) ELSE p END AS p
        |  FROM b WHERE k % 8 <> 0
        |  UNION ALL SELECT 'M', p FROM b WHERE k % 17 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvm_ok
        |FROM fin GROUP BY st""".stripMargin,
    // refresh over COPY-ON-WRITE delete feeds: the MV after the
    // retention double-header == per-status recompute of the retained
    // base (everything at-or-above the first-fifth cut, minus 9|k)
    "op_mv_delete" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span + 1) // 5 AS cut FROM m),
        |fin AS (SELECT st, p FROM b, r WHERE k >= cut AND k % 9 <> 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvdel_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the refreshed MV must hash-equal a DIRECT per-status recompute of
    // the base's final content (the op_mor_cdc change algebra, summed)
    "op_matview" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |fin AS (
        |  SELECT st, price FROM b
        |    WHERE k % 9 <> 0 AND k % 10 <> 0 AND k % 11 <> 0 AND k % 13 <> 0
        |  UNION ALL SELECT 'U', CAST(price + 100 AS DECIMAL(12,2)) FROM b
        |    WHERE k % 10 = 0 AND k % 9 <> 0
        |  UNION ALL SELECT 'N', price FROM b WHERE k % 97 = 0
        |  UNION ALL SELECT 'V', CAST(price + 200 AS DECIMAL(12,2)) FROM b
        |    WHERE k % 13 = 0 AND k % 9 <> 0 AND k % 10 <> 0 AND k % 11 <> 0
        |  UNION ALL SELECT 'M', price FROM b WHERE k % 89 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, TRUE AS mv_ok
        |FROM fin GROUP BY st""".stripMargin,
    // chaining both change-set rules
    "op_incremental_agg" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(14,2)) AS price FROM orders),
        |v1 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 50 = 0 THEN price + 100 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM b WHERE NOT (k % 61 = 0 AND k % 50 <> 0)
        |  UNION ALL SELECT k + 100000000, 'N', price FROM b WHERE k % 97 = 0),
        |v2 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 30 = 0 THEN price + 50 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM v1 WHERE NOT (k % 77 = 0 AND k % 30 <> 0)
        |  UNION ALL SELECT k + 200000000, 'M', price FROM v1 WHERE k % 89 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM v2 GROUP BY st""".stripMargin,
    // z-order + two-column manifest stats: the box aggregate is
    // hash-checked (bounds replayed from min/max), metadata-only 2-D
    // skipping travels as a boolean
    "op_zorder_manifest" ->
      """WITH d AS (SELECT o_custkey,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS od,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |b AS (SELECT MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 4 AS cq,
        |             MIN(od) + (MAX(od) - MIN(od)) // 4 AS dq FROM d)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total_price,
        |  TRUE AS skip_ok
        |FROM d, b WHERE o_custkey <= cq AND od <= dq""".stripMargin,
    // the pruned range read must return exactly the full filter's
    // content; manifest-level file skipping travels as a boolean
    // branch<->branch merge: dev's merged head = parent - exp's deleted
    // range + dev's %7 slice + exp's %11 slice; the pure-metadata
    // replay mechanics travel as a boolean
    "op_branch_merge" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + 3*(span+1)//8 AS lo,
        |             kmin + 5*(span+1)//8 - 1 AS hi FROM m)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS merge_ok
        |FROM b, r WHERE k < lo OR k > hi
        |UNION ALL SELECT k + 100000000, st, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 7 = 0
        |UNION ALL SELECT k + 200000000, st, CAST(price AS DOUBLE), TRUE
        |FROM b WHERE k % 11 = 0""".stripMargin,
    // bucket16 transform: the two point lookups replayed directly;
    // the bucket-stat file prune travels as a boolean
    "op_txn_bucket" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) AS kmax FROM b)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS bucket_ok
        |FROM b, m WHERE k = kmin OR k = kmax""".stripMargin,
    // days(ts) partition transform: content replayed by the same
    // day-quarter arithmetic (epoch_us floor-div one day); the
    // metadata-only file prune travels as a boolean
    "op_txn_days" ->
      """WITH b AS (SELECT epoch_us(MIN(ts)) // 86400000000 AS dmin,
        |    epoch_us(MAX(ts)) // 86400000000 AS dmax FROM events),
        |r AS (SELECT dmin, dmin + (dmax - dmin) // 4 AS dcut FROM b)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        |  TRUE AS days_ok
        |FROM events, r
        |WHERE epoch_us(ts) >= dmin * 86400000000
        |  AND epoch_us(ts) < (dcut + 1) * 86400000000
        |GROUP BY event_type""".stripMargin,
    "op_manifest_skip" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(o_orderkey) AS lo,
        |    MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 8 AS hi
        |  FROM b)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total,
        |  TRUE AS skip_ok
        |FROM b, r WHERE o_orderkey >= lo AND o_orderkey <= hi""".stripMargin,
    // manifest skipping on a DECIMAL index: integral query box over
    // floor/ceil-widened file stats; the residual filter compares the
    // exact decimal values, so fractional boundary rows stay excluded
    // on the hi side and included above lo exactly as the SQL replays
    "op_decimal_skip" ->
      """WITH b AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |    FROM orders),
        |r AS (SELECT CAST(FLOOR(MIN(price)) AS BIGINT) AS lo,
        |    CAST(FLOOR(MIN(price)) AS BIGINT) +
        |    (CAST(FLOOR(MAX(price)) AS BIGINT) -
        |     CAST(FLOOR(MIN(price)) AS BIGINT)) // 8 AS hi
        |  FROM b)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total,
        |  TRUE AS skip_ok
        |FROM b, r WHERE price >= lo AND price <= hi""".stripMargin,
    // file-pruned DELETE: survivors replayed from the range rule; the
    // three-way file accounting (interior files dropped metadata-only,
    // ≤2 boundary rewrites, rest verbatim) travels as a boolean
    "op_delete_pruned" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT
        |    (2*kmin + 2*(span+1)//8 + 3*(span+1)//8) // 2 AS lo,
        |    (2*kmin + 4*(span+1)//8 + 5*(span+1)//8) // 2 AS hi FROM m)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS delete_ok
        |FROM b, r WHERE k < lo OR k > hi""".stripMargin,
    // string manifest stats: the priority slice is trivially replayed;
    // the string-bound metadata prune travels as a boolean
    "op_str_skip" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  TRUE AS skip_ok
        |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin,
    // bloom-sidecar point lookup: the probed minimum key's rows are
    // trivially replayed; the bloom prune (and the coexisting day-range
    // prune) travel as a boolean
    "op_bloom_skip" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total,
        |  TRUE AS skip_ok
        |FROM b WHERE k = (SELECT MIN(k) FROM b)""".stripMargin,
    // RESTORE to v0 after a bad overwrite: the restored content is
    // exactly the base slice; the verbatim-manifest + audit-trail
    // mechanics travel as a boolean
    "op_txn_wap" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |mx AS (SELECT MAX(o_orderkey) AS m FROM base),
        |pub AS (SELECT * FROM base
        |  UNION ALL SELECT o_orderkey + m + 1, o_orderstatus, price
        |  FROM base, mx WHERE o_orderkey % 89 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  'pre_publish' AS src, TRUE AS wap_ok
        |FROM base GROUP BY o_orderstatus
        |UNION ALL
        |SELECT o_orderstatus, COUNT(*), CAST(SUM(price) AS DOUBLE),
        |  'published', TRUE
        |FROM pub GROUP BY o_orderstatus""".stripMargin,
    "op_txn_restore" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  'restored' AS src, TRUE AS restore_ok
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    // zero-copy shallow clone, then divergence: the source stays the
    // base content, the clone gains the keyspace-shifted delta; the
    // zero-copy mechanics travel as a boolean
    "op_txn_clone" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, 'src' AS src,
        |  TRUE AS clone_ok
        |FROM b GROUP BY st
        |UNION ALL
        |SELECT st, COUNT(*), CAST(SUM(price) AS DOUBLE), 'clone', TRUE
        |FROM (SELECT k, st, price FROM b
        |      UNION ALL SELECT k + 100000000, 'C', price FROM b
        |      WHERE k % 97 = 0) GROUP BY st""".stripMargin,
    // sequenced tombstones: MoR delete %7, append re-inserts %14 (the
    // re-inserted rows are NEWER than the tombstone and stay visible),
    // then a low-eighth %5 price merge — all with the tombstone still
    // pending; the per-version counts travel as a boolean
    "op_mor_seq" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 8 AS hi FROM b),
        |pre AS (SELECT k, st, price FROM b WHERE k % 7 <> 0
        |        UNION ALL SELECT k, 'R', price FROM b WHERE k % 14 = 0),
        |bat AS (SELECT k, 'U' AS st,
        |    CAST(price + 100 AS DECIMAL(12,2)) AS price
        |  FROM b, r WHERE k <= hi AND k % 5 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS seq_ok
        |FROM (SELECT k, st, price FROM pre
        |        WHERE k NOT IN (SELECT k FROM bat)
        |      UNION ALL SELECT k, st, price FROM bat)""".stripMargin,
    // full MERGE: matched-update (%5 of the low eighth), matched-delete
    // (%3 unless updated), not-matched-insert (+1e8), not-matched-delete
    // ghosts (+3e8, must no-op), replayed clause by clause; the
    // file-pruning accounting travels as a boolean
    "op_merge_full" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 8 AS hi,
        |    MAX(k) AS mx FROM b),
        |upd AS (SELECT k, 'U' AS st,
        |    CAST(price + 100 AS DECIMAL(12,2)) AS price
        |  FROM b, r WHERE k <= hi AND k % 5 = 0),
        |del AS (SELECT k FROM b, r
        |  WHERE k <= hi AND k % 3 = 0 AND k % 5 <> 0),
        |ins AS (SELECT k + mx + 1 AS k, 'N' AS st, price
        |  FROM b, r WHERE k <= hi AND k % 7 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS full_ok
        |FROM (SELECT k, st, price FROM b
        |        WHERE k NOT IN (SELECT k FROM upd)
        |          AND k NOT IN (SELECT k FROM del)
        |      UNION ALL SELECT k, st, price FROM upd
        |      UNION ALL SELECT k, st, price FROM ins)""".stripMargin,
    // merge-on-read MERGE: same change-set algebra as op_merge_full
    // but over the WHOLE keyspace (scattered keys) — final content is
    // replayable; the zero-rewrite/tombstone/compaction mechanics
    // travel as mor_ok
    "op_merge_mor" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MAX(k) AS mx FROM b),
        |upd AS (SELECT k, 'U' AS st,
        |    CAST(price + 100 AS DECIMAL(12,2)) AS price
        |  FROM b WHERE k % 5 = 0),
        |del AS (SELECT k FROM b WHERE k % 3 = 0 AND k % 5 <> 0),
        |ins AS (SELECT k + mx + 1 AS k, 'N' AS st, price
        |  FROM b, r WHERE k % 7 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS mor_ok
        |FROM (SELECT k, st, price FROM b
        |        WHERE k NOT IN (SELECT k FROM upd)
        |          AND k NOT IN (SELECT k FROM del)
        |      UNION ALL SELECT k, st, price FROM upd
        |      UNION ALL SELECT k, st, price FROM ins)""".stripMargin,
    // partial compaction: content-invariant — base plus the four
    // hot-region appends, however the files were merged
    "op_compact_range" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 4 AS hi FROM b)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS cr_ok
        |FROM (SELECT k, st, price FROM b
        |      UNION ALL
        |      SELECT k, 'H' || CAST(k % 4 AS VARCHAR), price
        |      FROM b, r WHERE k <= hi)""".stripMargin,
    // merge-on-read CDC: v0's aggregate + two commits' signed feeds
    // telescoped must equal the DIRECT replay of the final content
    "op_mor_cdc" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |fin AS (
        |  SELECT st, price FROM b
        |  WHERE k % 9 <> 0 AND k % 10 <> 0 AND k % 11 <> 0 AND k % 13 <> 0
        |  UNION ALL
        |  SELECT 'U', CAST(price + 100 AS DECIMAL(12,2)) FROM b
        |  WHERE k % 10 = 0 AND k % 9 <> 0
        |  UNION ALL
        |  SELECT 'V', CAST(price + 200 AS DECIMAL(12,2)) FROM b
        |  WHERE k % 13 = 0 AND k % 9 <> 0 AND k % 10 <> 0 AND k % 11 <> 0
        |  UNION ALL
        |  SELECT 'N', price FROM b WHERE k % 97 = 0
        |  UNION ALL
        |  SELECT 'M', price FROM b WHERE k % 89 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, TRUE AS mor_cdc_ok
        |FROM fin GROUP BY st""".stripMargin,
    // tombstone-file maintenance: five MoR batches collapse to one
    // bounded (key, L) tombstone, content-invariant — the oracle
    // replays the sequential change algebra
    "op_tomb_rewrite" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MAX(k) AS mx FROM b)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS rewrite_ok
        |FROM (SELECT k, st, price FROM b
        |        WHERE k % 3 <> 0 AND k % 5 <> 0 AND k % 7 <> 0
        |      UNION ALL
        |      SELECT k, 'U2', CAST(price + 100 AS DECIMAL(12,2))
        |      FROM b WHERE k % 5 = 0 AND k % 3 <> 0 AND k % 10 <> 0
        |      UNION ALL
        |      SELECT k + mx + 1, 'N', price FROM b, r
        |      WHERE k % 11 = 0)""".stripMargin,
    // positional-DV consolidation: five coordinate vectors merge into
    // one sorted vector, content-invariant — the oracle replays the
    // five-step change algebra (dedup of the doubled seed = base, then
    // three predicate deletes and one predicate reprice)
    "op_dv_rewrite" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(CASE WHEN k % 10 = 5
        |    THEN CAST(price + 50 AS DECIMAL(12,2)) ELSE price END
        |    AS DOUBLE) AS price,
        |  TRUE AS dv_ok
        |FROM b
        |WHERE k % 9 <> 0 AND NOT (st = 'P' AND k % 4 = 1)
        |  AND k % 27 <> 1""".stripMargin,
    // merge-on-read delete: both generations (tombstone anti-join, then
    // compacted materialization) must hash to the same surviving rows;
    // zero-rewrite + tombstone accounting travels as a boolean
    "op_delete_mor" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |f AS (SELECT * FROM b WHERE k % 7 <> 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, 'mor' AS src, TRUE AS mor_ok
        |FROM f GROUP BY st
        |UNION ALL
        |SELECT st, COUNT(*), CAST(SUM(price) AS DOUBLE), 'compacted', TRUE
        |FROM f GROUP BY st""".stripMargin,
    // Positional deletion-vector dedup: exact copies killed by (file,
    // position) coordinate, keeper per group survives — dedup of
    // slice ∪ (%7 subset) replays as the slice itself, hashed from the
    // MoR read and again from the compacted materialization; the
    // zero-rewrite + vector accounting travels as a boolean
    "op_dedup_mor" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, 'dv' AS src, TRUE AS dv_ok
        |FROM b GROUP BY st
        |UNION ALL
        |SELECT st, COUNT(*), CAST(SUM(price) AS DOUBLE), 'compacted', TRUE
        |FROM b GROUP BY st""".stripMargin,
    // Arbitrary-predicate deletion-vector delete: cent-value % 7
    // victims killed by (file, position) coordinate with zero rewrite;
    // survivors hashed from the MoR read and again from the compacted
    // materialization; zero-rewrite + vector-kind + pinned accounting
    // travels as a boolean
    "op_delete_dv" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |  f AS (SELECT * FROM b WHERE CAST(price * 100 AS BIGINT) % 7 <> 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, 'dv' AS src,
        |  TRUE AS dvdel_ok
        |FROM f GROUP BY st
        |UNION ALL
        |SELECT st, COUNT(*), CAST(SUM(price) AS DOUBLE), 'compacted', TRUE
        |FROM f GROUP BY st""".stripMargin,
    // Deletion-vector UPDATE: cent-value % 7 rows get price + 100 in
    // one commit (coordinate vector + fresh updated-row files, all
    // untouched entries verbatim); post-update aggregate hashed from
    // both generations; the accounting travels as a boolean
    "op_update_dv" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |  u AS (SELECT k, st,
        |    CASE WHEN CAST(price * 100 AS BIGINT) % 7 = 0
        |      THEN CAST(price + 100 AS DECIMAL(12,2)) ELSE price END
        |      AS price FROM b)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total, 'dv' AS src,
        |  TRUE AS upd_ok
        |FROM u GROUP BY st
        |UNION ALL
        |SELECT st, COUNT(*), CAST(SUM(price) AS DOUBLE), 'compacted', TRUE
        |FROM u GROUP BY st""".stripMargin,
    // IS NULL pruning via null-count manifest stats: the null rows are
    // exactly the lowest-eighth keys (oracle-replayed); the metadata
    // prune travels as a boolean
    "op_null_skip" ->
      """WITH b AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 8 AS hi FROM b)
        |SELECT COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(SUM(price) AS DOUBLE) AS total, TRUE AS skip_ok
        |FROM b, r WHERE k <= hi""".stripMargin,
    // file-pruned MERGE: the merged table's content replayed as the plain
    // latest-wins change set (updates replace, inserts add); the file
    // accounting (≥ half untouched, manifest lines verbatim) travels as
    // an oracle-asserted boolean
    "op_merge_pruned" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |r AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 8 AS hi FROM b),
        |upd AS (SELECT k, 'U' AS st,
        |    CAST(price + 100 AS DECIMAL(12,2)) AS price
        |  FROM b, r WHERE k <= hi AND k % 5 = 0),
        |ins AS (SELECT k + 100000000 AS k, 'N' AS st, price
        |  FROM b, r WHERE k <= hi AND k % 7 = 0)
        |SELECT k AS o_orderkey, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price, TRUE AS merge_ok
        |FROM (SELECT k, st, price FROM b
        |        WHERE k NOT IN (SELECT k FROM upd)
        |      UNION ALL SELECT k, st, price FROM upd
        |      UNION ALL SELECT k, st, price FROM ins)""".stripMargin,
    // add-column evolution: old generation reads NULL for the new
    // column (n_prio counts only evolved rows); the O(metadata) claim
    // (v0 files verbatim, v0 still reads old schema) travels as a boolean
    "op_txn_schema_evolve" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price, o_orderpriority
        |  FROM orders),
        |u AS (SELECT k, st, price, NULL AS prio FROM b
        |      UNION ALL SELECT k + 100000000, st, price, o_orderpriority
        |      FROM b WHERE k % 97 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total,
        |  COUNT(prio) AS n_prio, TRUE AS evolve_ok
        |FROM u GROUP BY st""".stripMargin,
    // change feed v0->v1 replayed from the deterministic change rules:
    // update keys %50=0 (price+100), delete keys %61=0 (unless updated),
    // insert key+100000000 for keys %97=0
    "op_cdc_read" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders)
        |SELECT k AS o_orderkey, 'update_pre' AS op, st AS o_orderstatus,
        |  CAST(price AS DOUBLE) AS price FROM b WHERE k % 50 = 0
        |UNION ALL
        |SELECT k, 'update_post', st, CAST(price + 100 AS DOUBLE)
        |FROM b WHERE k % 50 = 0
        |UNION ALL
        |SELECT k, 'delete', st, CAST(price AS DOUBLE)
        |FROM b WHERE k % 61 = 0 AND k % 50 <> 0
        |UNION ALL
        |SELECT k + 100000000, 'insert', 'N', CAST(price AS DOUBLE)
        |FROM b WHERE k % 97 = 0""".stripMargin,
    // content invariance of the box-filtered agg hash-checked (bounds are
    // data-derived, replayed via MIN/MAX subqueries); measured file-level
    // locality travels as an oracle-asserted boolean
    "q45_zorder" ->
      """WITH d AS (SELECT o_custkey,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS od,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
        |  FROM orders),
        |b AS (SELECT MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 4 AS cq,
        |             MIN(od) + (MAX(od) - MIN(od)) // 4 AS dq FROM d)
        |SELECT COUNT(*) AS n, CAST(SUM(price) AS DOUBLE) AS total_price,
        |  TRUE AS clustered_ok
        |FROM d, b WHERE o_custkey < cq AND od < dq""".stripMargin,
    // replay the deterministic corruption rule arithmetically
    "q46_bad_records" ->
      """SELECT
        |  COUNT(CASE WHEN o_orderkey % 13 <> 0 THEN 1 END) AS n_good,
        |  COUNT(CASE WHEN o_orderkey % 13 = 0 THEN 1 END) AS n_bad,
        |  CAST(SUM(CASE WHEN o_orderkey % 13 <> 0
        |    THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS sum_good
        |FROM orders""".stripMargin,
    "q40_schema_evolution" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |  COUNT(o_orderstatus) AS n_status
        |FROM (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 1)""".stripMargin,
    // the blob store after content-addressed ingest, retraction of two
    // named payload classes (doc_id % 13 in {3, 7}) and the class-3
    // re-crawl: retained blobs keep their ingest nrefs, the re-crawled
    // one comes back with nrefs = 1
    "mm_blob_retract" ->
      """WITH items AS (SELECT doc_id,
        |    'IMG:' || CAST(doc_id % 13 AS VARCHAR) || ':' ||
        |      repeat('x', CAST((doc_id % 13) * 7 AS INT)) AS pay
        |  FROM documents),
        |blobs AS (SELECT md5(pay) AS pmd5, COUNT(*) AS nrefs,
        |    MIN(strlen(pay)) AS nbytes FROM items GROUP BY 1),
        |named AS (SELECT DISTINCT md5(pay) AS pmd5 FROM items
        |  WHERE doc_id % 13 IN (3, 7)),
        |recrawl AS (SELECT DISTINCT md5(pay) AS pmd5,
        |    CAST(1 AS BIGINT) AS nrefs, strlen(pay) AS nbytes
        |  FROM items WHERE doc_id % 13 = 3)
        |SELECT pmd5, nrefs, nbytes, TRUE AS blob_ok FROM blobs
        |  WHERE pmd5 NOT IN (SELECT pmd5 FROM named)
        |UNION ALL SELECT pmd5, nrefs, nbytes, TRUE FROM recrawl""".stripMargin,
    // the streamed store converges to the distinct content addresses,
    // whatever the crawl volume or re-crawl overlap
    "mm_blob_stream" ->
      """WITH items AS (SELECT doc_id,
        |    'IMG:' || CAST(doc_id % 13 AS VARCHAR) || ':' ||
        |      repeat('x', CAST((doc_id % 13) * 7 AS INT)) AS pay
        |  FROM documents)
        |SELECT DISTINCT md5(pay) AS pmd5, strlen(pay) AS nbytes,
        |  TRUE AS bstream_ok FROM items""".stripMargin,
    // the post-GC store: every class except the two GDPR-wiped ones,
    // plus the re-crawled class at its re-ingested size
    "mm_ref_gc" ->
      """WITH items AS (SELECT doc_id,
        |    'IMG:' || CAST(doc_id % 13 AS VARCHAR) || ':' ||
        |      repeat('x', CAST((doc_id % 13) * 7 AS INT)) AS pay
        |  FROM documents),
        |blobs AS (SELECT md5(pay) AS pmd5, MIN(strlen(pay)) AS nbytes
        |  FROM items GROUP BY 1),
        |gone AS (SELECT DISTINCT md5(pay) AS pmd5 FROM items
        |  WHERE doc_id % 13 IN (3, 7)),
        |recrawl AS (SELECT DISTINCT md5(pay) AS pmd5,
        |    strlen(pay) AS nbytes FROM items WHERE doc_id % 13 = 3)
        |SELECT pmd5, nbytes, TRUE AS gc_ok FROM blobs
        |  WHERE pmd5 NOT IN (SELECT pmd5 FROM gone)
        |UNION ALL SELECT pmd5, nbytes, TRUE FROM recrawl""".stripMargin,
    // multimodal dedup: exact payload-hash keep-min + strided-frame
    // containment stats, both pure bytes->md5 arithmetic
    "mm_payload_dedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS phash FROM documents),
        |k AS (SELECT doc_id, phash,
        |    doc_id = MIN(doc_id) OVER (PARTITION BY phash) AS keep
        |  FROM h),
        |f AS (SELECT doc_id,
        |    md5(substr(text, CAST(frame_idx*256+1 AS INT), 256))
        |      AS frame_md5
        |  FROM (SELECT doc_id, text,
        |    unnest(range(0, greatest(1,
        |      CAST(ceil(length(text)/256.0) AS BIGINT)))) AS frame_idx
        |  FROM documents) t WHERE frame_idx % 4 = 0),
        |dpf AS (SELECT frame_md5, COUNT(DISTINCT doc_id) AS nd
        |  FROM f GROUP BY 1),
        |fs AS (SELECT doc_id, COUNT(*) AS n_frames,
        |    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared
        |  FROM f JOIN dpf USING (frame_md5) GROUP BY doc_id)
        |SELECT k.doc_id, k.phash, k.keep, fs.n_frames, fs.n_shared
        |FROM k JOIN fs ON k.doc_id = fs.doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(range(0, greatest(1, CAST(ceil(length(text)/256.0) AS BIGINT)))) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |  md5(substr(text, CAST(frame_idx*256+1 AS INT), 256)) AS frame_md5
        |FROM f WHERE frame_idx % 4 = 0""".stripMargin,
    "ta_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1)
        |SELECT t.doc_id, t.tok, t.tf, d.df,
        |  ROUND(t.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / d.df), 4)
        |    AS tfidf
        |FROM tf t JOIN df d USING (tok)""".stripMargin,
    // Same double tree as the engine (K1+1 as its own 2.2 literal, 1-b
    // pre-folded to 0.25, avgdl = SUM*1.0/COUNT); ln parity via the 4dp
    // round, ranks computed AFTER rounding so both engines order the
    // same values (doc_id tie-break).
    "ta_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |qt AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 16),
        |scored AS (SELECT t.tok, t.doc_id, t.tf, q.df,
        |    ROUND(ln(((SELECT COUNT(*) FROM documents) - q.df + 0.5)
        |        / (q.df + 0.5) + 1.0)
        |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl /
        |        ((SELECT SUM(dl) FROM dl) * 1.0
        |          / (SELECT COUNT(*) FROM documents)))), 4) AS bm25
        |  FROM tf t JOIN qt q USING (tok) JOIN dl l USING (doc_id))
        |SELECT tok, doc_id, tf, df, bm25, rank FROM (
        |  SELECT tok, doc_id, tf, df, bm25, ROW_NUMBER() OVER (
        |    PARTITION BY tok ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored) r WHERE rank <= 10""".stripMargin,
    // the persisted incremental index must answer EXACTLY what the
    // from-scratch ta_bm25 pipeline answers — same replay, same hash
    "ta_index_search" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |qt AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 16),
        |scored AS (SELECT t.tok, t.doc_id, t.tf, q.df,
        |    ROUND(ln(((SELECT COUNT(*) FROM documents) - q.df + 0.5)
        |        / (q.df + 0.5) + 1.0)
        |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl /
        |        ((SELECT SUM(dl) FROM dl) * 1.0
        |          / (SELECT COUNT(*) FROM documents)))), 4) AS bm25
        |  FROM tf t JOIN qt q USING (tok) JOIN dl l USING (doc_id))
        |SELECT tok, doc_id, tf, df, bm25, rank, TRUE AS idx_ok FROM (
        |  SELECT tok, doc_id, tf, df, bm25, ROW_NUMBER() OVER (
        |    PARTITION BY tok ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored) r WHERE rank <= 10""".stripMargin,
    // retraction oracle: the SAME replay over the RETAINED corpus —
    // the index must answer as if doc_id % 7 == 0 were never indexed
    "ta_index_retract" ->
      """WITH kept AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 7 <> 0),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
        |  FROM kept),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |qt AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 16),
        |scored AS (SELECT t.tok, t.doc_id, t.tf, q.df,
        |    ROUND(ln(((SELECT COUNT(*) FROM kept) - q.df + 0.5)
        |        / (q.df + 0.5) + 1.0)
        |      * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl /
        |        ((SELECT SUM(dl) FROM dl) * 1.0
        |          / (SELECT COUNT(*) FROM kept)))), 4) AS bm25
        |  FROM tf t JOIN qt q USING (tok) JOIN dl l USING (doc_id))
        |SELECT tok, doc_id, tf, df, bm25, rank, TRUE AS ridx_ok FROM (
        |  SELECT tok, doc_id, tf, df, bm25, ROW_NUMBER() OVER (
        |    PARTITION BY tok ORDER BY bm25 DESC, doc_id) AS rank
        |  FROM scored) r WHERE rank <= 10""".stripMargin,
    // The corpus has no PII, so both sides inject identical deterministic
    // contact lines keyed on doc_id; patterns are the RE2/Java-regex common
    // subset, so the scrub + counts replay bit-exactly.
    "ta_pii_scrub" ->
      """WITH r AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
        |         || ' from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |         || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean,
        |  len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(raw, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone
        |FROM r""".stripMargin,
    "ta_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CASE WHEN lang = 'en'
        |  THEN substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
        |  ELSE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) < '80' END""".stripMargin,
    "ta_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 16 AS shard,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tok
        |  FROM documents),
        |c AS (SELECT shard, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT shard, CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS seq_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,
    "ta_sessionize" ->
      """SELECT event_id, user_id, session_num FROM (
        |  SELECT event_id, user_id,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |    FROM events) t) tt""".stripMargin,
    "pipe_clean_corpus" ->
      s"""WITH scored AS (
        |  SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tok,
        |    len(list_filter(string_split_regex(text, '\\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it'))) AS stop_n
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, text FROM scored
        |  WHERE LEAST(1.0, n_tok / 100.0) * (1.0 - CAST(stop_n AS DOUBLE) / n_tok) >= 0.5),
        |dd AS (
        |  SELECT doc_id,
        |    doc_id = MIN(doc_id) OVER (
        |      PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
        |  FROM kept)
        |SELECT ${splitBucketSql("doc_id")} AS split,
        |       COUNT(*) AS n
        |FROM dd WHERE keep GROUP BY 1""".stripMargin,
    "pipe_dedup_corpus" ->
      s"""WITH RECURSIVE kept AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      doc_id = MIN(doc_id) OVER (
        |        PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep
        |    FROM documents) WHERE keep),
        |w AS (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws
        |  FROM kept),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
        |  FROM w),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM cand
        |  JOIN sizes s1 ON d1 = s1.doc_id
        |  JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.8),
        |edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |dropped AS (
        |  SELECT src AS doc_id FROM reach GROUP BY src HAVING MIN(dst) <> src)
        |SELECT ${splitBucketSql("doc_id")} AS split,
        |       COUNT(*) AS n
        |FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY 1""".stripMargin,
    "sim_knn_brute" -> knnBruteOracle,
    // radius query over the replayed LSH buckets
    "sim_range_search" -> graft.operators.Similarity.rangeSearchOracle,
    // per-term quantization before the sum: exact integers (coarse 1e-2
    // quantum because ln is not correctly rounded across engines)
    "ta_entropy" ->
      """WITH tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |        AS tok
        |    FROM documents) t
        |  GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tok, COUNT(*) AS n_uniq,
        |  CAST(SUM(CAST(floor(n * ln(n) * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS nlogn2
        |FROM tc GROUP BY doc_id""".stripMargin,
    // the BPE trainer replayed round by round: word histogram -> spaced
    // symbol rendering -> (pair count, argmax, literal replace) x12 —
    // the training loop itself is hash-checked, like the trigram LM
    "ta_bpe_train" -> graft.operators.TextAnalysis.bpeTrainOracle,
    // the learned merges applied: per-doc BPE token counts via the
    // fully-merged vocabulary
    "ta_bpe_tokenize" -> graft.operators.TextAnalysis.bpeTokenizeOracle,
    // sequence packing billed in real BPE tokens (pack_sequences shape
    // over the replayed per-doc counts)
    "ta_pack_bpe" -> graft.operators.TextAnalysis.packBpeOracle,
    // full replay of the approximate LSH path (literal hyperplanes) — the
    // buckets, candidate union, and ranking are all hash-checked
    "sim_ann_lsh" -> graft.operators.Similarity.lshOracle,
    // full replay of spherical k-means INCLUDING the training loop — the
    // integer-micro-unit Lloyd update is deterministic and SQL-expressible
    "sim_kmeans" -> graft.operators.Similarity.kmeansOracle,
    // full replay of IVF: training, cell assignment, probes, and ranking
    "sim_ann_ivf" -> graft.operators.Similarity.ivfOracle,
    // frozen-centroid accretion: train on the corpus slice, assign all
    "sim_ann_incremental" -> graft.operators.Similarity.ivfIncOracle,
    // retraction never retrains: training sees the full corpus, only
    // the scored candidate set drops the deleted ids
    "sim_ann_delete" -> graft.operators.Similarity.ivfDeleteOracle,
    // post-recluster probes: the oracle replays the RETRAIN (stride
    // seeds + Lloyd) over the drifted store content itself
    "sim_ann_recluster" -> graft.operators.Similarity.ivfReclusterOracle,
    // the same accretion as a stream: append-only + frozen assignment
    // is wave-split-invariant, so the replay is identical
    "st_stream_ann" -> graft.operators.Similarity.ivfStreamOracle,
    "sim_ann_filtered" -> graft.operators.Similarity.ivfFilteredOracle,
    "sim_hybrid_ivfpq" -> graft.operators.Similarity.hybridIvfPqOracle,
    // full replay of PQ: codebook training, encoding, ADC, re-rank
    "sim_ann_pq" -> graft.operators.Similarity.pqOracle,
    "sim_sq8" -> graft.operators.Similarity.sq8Oracle,
    "sim_hybrid_rrf" -> graft.operators.Similarity.hybridOracle,
    "sim_ann_ivfpq" -> graft.operators.Similarity.ivfPqOracle,
    "sim_ann_graph" -> graft.operators.Similarity.graphOracle,
    "op_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(c.ts) AS click_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,
    "op_range_join" ->
      """SELECT e.event_id, e.user_id, COUNT(c.c_us) AS n_clicks FROM
        |  (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events
        |   WHERE event_type = 'error') e
        |LEFT JOIN
        |  (SELECT user_id AS c_user, epoch_us(ts) AS c_us FROM events
        |   WHERE event_type = 'click') c
        |ON e.user_id = c.c_user
        |  AND c.c_us >= e.t_us - 3600000000 AND c.c_us <= e.t_us
        |GROUP BY e.event_id, e.user_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS nbytes,
        |  ascii(substr(text, 1, 1)) AS magic,
        |  CASE WHEN ascii(substr(text, 1, 1)) BETWEEN 97 AND 122
        |    THEN 'text' ELSE 'other' END AS tag
        |FROM documents""".stripMargin,
    "st_stream_dedup" ->
      "SELECT DISTINCT event_id, user_id, event_type FROM events",
    "st_stream_file_sink" ->
      """SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS day, value
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    // rate-limited backfill must land the same content as one big batch;
    // the batching/exactly-once mechanics travel as backfill_ok
    "st_stream_backfill" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        |  TRUE AS backfill_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // streaming through the catalog: the streamed destination must hold
    // exactly the source's content — the four quarter commits plus the
    // %13 keyspace-shifted delta; batch/epoch/replay accounting travels
    // as a boolean
    "st_stream_catalog" ->
      """SELECT o_orderkey, o_orderstatus AS st,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  TRUE AS cstream_ok
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 200000000, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), TRUE
        |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin,
    // Time-anchored stream start: a fresh checkpoint anchored at the
    // third quarter-commit's own stamp drains exactly quarters 3..4
    // (replayable cut arithmetic, same long integer division); the
    // batch accounting + same-checkpoint inertness travel as a boolean
    "st_stream_since" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders),
        |  r AS (SELECT MIN(k) AS lo, MAX(k) AS hi FROM b),
        |  q AS (SELECT lo + (2 * (hi - lo + 1)) // 4 AS c2 FROM r)
        |SELECT k AS o_orderkey, st, CAST(price AS DOUBLE) AS price,
        |  TRUE AS since_ok
        |FROM b, q WHERE k >= c2""".stripMargin,
    // same change-set + latest-wins contract as op_upsert, replayed from
    // parquet — the streamed foreachBatch merge must land the same table
    "st_stream_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority, 0 AS src
        |  FROM orders),
        |updates AS (SELECT o_orderkey, 'U' AS o_orderstatus,
        |    CAST(o_totalprice + 1000.0 AS DOUBLE) AS o_totalprice,
        |    '5-LOW' AS o_orderpriority, 1 AS src
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |inserts AS (SELECT o_orderkey + 100000000 AS o_orderkey,
        |    'N' AS o_orderstatus,
        |    CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderpriority, 1 AS src
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |merged AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM updates
        |        UNION ALL SELECT * FROM inserts))
        |SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM merged WHERE rn = 1""".stripMargin,
    // merge-on-read CDC apply: per-batch merge_mor + tombstone
    // maintenance must land the sequentially-replayed change algebra
    "st_stream_mor" ->
      """WITH b AS (SELECT o_orderkey AS key, o_orderstatus AS st,
        |    CAST(o_totalprice AS DOUBLE) AS p FROM orders)
        |SELECT key AS o_orderkey, st AS o_orderstatus,
        |  p AS o_totalprice, TRUE AS morstream_ok
        |FROM (SELECT key, st, p FROM b
        |        WHERE key % 9 <> 0 AND key % 10 <> 0
        |      UNION ALL
        |      SELECT key, 'U', p + 1000.0 FROM b
        |      WHERE key % 10 = 0 AND key % 9 <> 0
        |      UNION ALL
        |      SELECT key + 100000000, 'N', p FROM b
        |      WHERE key % 97 = 0)""".stripMargin,
    // the streamed MV fold must hash-equal a DIRECT per-status recompute
    // of the base's final content (the morstream change algebra, summed
    // in exact decimal)
    "st_stream_matview" ->
      """WITH b AS (SELECT o_orderkey AS key, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |fin AS (SELECT st, p FROM b WHERE key % 9 <> 0 AND key % 10 <> 0
        |  UNION ALL SELECT 'U', CAST(p + 100 AS DECIMAL(12,2)) FROM b
        |    WHERE key % 10 = 0 AND key % 9 <> 0
        |  UNION ALL SELECT 'N', p FROM b WHERE key % 97 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(p) AS DOUBLE) AS total, TRUE AS mvstream_ok
        |FROM fin GROUP BY st""".stripMargin,
    // the three waves partition orders exactly (key mod 3), each epoch
    // applied twice through the ledger lands once; the two labeled
    // post-stream appends replay their slice arithmetic
    "st_stream_idempotent" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice, TRUE AS idem_ok
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 300000000, 'P',
        |  CAST(o_totalprice AS DOUBLE), TRUE
        |FROM orders WHERE o_orderkey % 13 = 0
        |UNION ALL
        |SELECT o_orderkey + 500000000, 'B',
        |  CAST(o_totalprice AS DOUBLE), TRUE
        |FROM orders WHERE o_orderkey % 17 = 0""".stripMargin,
    "st_stream_enrich" ->
      """SELECT event_id, user_id, event_type, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,
    // the streamed telescoping fold (v0 + the tailed change feed) must
    // hash-equal the oracle's DIRECT replay of v2 — same change rules as
    // op_incremental_agg; the consumer here is a live file-stream
    "st_stream_cdc" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(14,2)) AS price FROM orders),
        |v1 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 50 = 0 THEN price + 100 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM b WHERE NOT (k % 61 = 0 AND k % 50 <> 0)
        |  UNION ALL SELECT k + 100000000, 'N', price FROM b WHERE k % 97 = 0),
        |v2 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 30 = 0 THEN price + 50 ELSE price END
        |      AS DECIMAL(14,2)) AS price
        |  FROM v1 WHERE NOT (k % 77 = 0 AND k % 30 <> 0)
        |  UNION ALL SELECT k + 200000000, 'M', price FROM v1 WHERE k % 89 = 0)
        |SELECT st AS o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(price) AS DOUBLE) AS total
        |FROM v2 GROUP BY st""".stripMargin,
    // the readChangeFeed-maintained aggregate after v1 (initial upsert),
    // v2 (MoR delete %8 / reprice +5 %10=3 / insert %17 shifted), v3
    // (range delete below the low-fifth cut), v5 (merge: insert %23
    // shifted + delete %12=5 of ORIGINAL keys — the +300M inserts are
    // excluded by the k < 300000000 guard); the feed-less v6 insert is
    // deliberately NOT in the maintained aggregate
    "st_stream_changes" ->
      """WITH b AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders),
        |m AS (SELECT MIN(k) AS kmin, MAX(k) - MIN(k) AS span FROM b),
        |r AS (SELECT kmin + (span + 1) // 5 AS cut FROM m),
        |s2 AS (SELECT k, st,
        |    CAST(CASE WHEN k % 10 = 3 THEN p + 5 ELSE p END
        |      AS DECIMAL(12,2)) AS p
        |  FROM b WHERE k % 8 <> 0
        |  UNION ALL
        |  SELECT k + 300000000, 'Q', p FROM b WHERE k % 17 = 0),
        |s3 AS (SELECT s2.* FROM s2, r WHERE k >= cut),
        |s5 AS (SELECT k, st, p FROM s3
        |    WHERE NOT (k < 300000000 AND k % 12 = 5)
        |  UNION ALL
        |  SELECT k + 500000000, 'R', p FROM b WHERE k % 23 = 0)
        |SELECT st, COUNT(*) AS n, CAST(SUM(p) AS DOUBLE) AS total,
        |  TRUE AS stch_ok
        |FROM s5 GROUP BY st""".stripMargin,
    "st_stream_join" ->
      """SELECT p.event_id AS p_id, p.user_id, c.event_id AS c_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        |  AND epoch_us(c.ts) <= epoch_us(p.ts)
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin,
    // LAG-based session replay; >= gap starts a new session (half-open
    // session windows), MIN(ts) per session = the window start
    "st_stream_session_window" ->
      """WITH t AS (SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id)) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sn AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM t)
        |SELECT user_id, MIN(epoch_us(ts)) AS session_start_us, COUNT(*) AS n
        |FROM sn GROUP BY user_id, sid""".stripMargin,
    "st_stream_window" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "st_stream_session" ->
      """SELECT event_id, user_id, session_num FROM (
        |  SELECT event_id, user_id,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_num
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR epoch_us(ts) - epoch_us(LAG(ts) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |    FROM events) t) tt""".stripMargin,
  )
}
