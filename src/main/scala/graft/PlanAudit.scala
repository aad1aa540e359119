package graft
import org.apache.spark.sql.SparkSession

/** Registry-wide physical-plan sweep for scale anti-patterns
  * (cartesian products, unkeyed nested-loop joins). Intentional
  * exceptions are listed with their justification.
  *
  * The sweep itself is a pure function so BOTH entry points share one
  * rule set: [[main]] for ad-hoc dev runs with per-query output, and
  * `PlanAuditSpec` (in `sbt test`) as the always-on gate — a new
  * unkeyed BNLJ or cartesian now fails CI instead of waiting for
  * someone to remember to run the dev main (VERDICT r7 #4).
  */
object PlanAudit {
  // queries where a BroadcastNestedLoopJoin is the DESIGNED plan:
  // a bounded broadcast side makes the nested loop a streaming scan
  private[graft] val allowedBnlj = Map(
    "q25_knn_cosine" -> "query side is a bounded broadcast (brute-force baseline)",
    "q35_merge_similarity" -> "dateless branch: rare rows × broadcast, by construction tiny",
    "q20_interval_join" -> "dateless branch of mergeSimilarity (same as q35)",
    "q44_ivf_ann" -> "16-row broadcast centroid frame; corpus×16 is the IVF assignment fan-out",
    "q48_tfidf" -> "one-row broadcast of the corpus-size scalar (N for idf)",
    "q66_gap_fill" -> "one-row broadcast of the (min,max) date span for the spine",
    "q74_kmeans_iter" -> "16-row broadcast centroid frame (same fan-out as q44)",
    "q76_ann_recall" -> "brute-force exact side of the recall eval (bounded query set, q25's design)",
    "q86_semantic_dedup" -> "16-row broadcast centroid frame (IVF cell assignment, q44's fan-out)",
    "q87_bigram_lm" -> "one-row broadcast of the vocab-size scalar (add-one smoothing, q48's pattern)",
    "q89_semantic_clusters" -> "q86's bounded centroid-assignment BNLJ feeding the CC pairs",
    "q94_quantized_ann" -> "16-row broadcast centroid frame over int8 codes (q44's fan-out)",
    "q97_quantized_recall" -> "brute-force exact side (q25) + q94's bounded centroid assignment",
    "q99_ccnet_buckets" -> "one-row broadcast of the vocab-size scalar inside bigramLmScore (q87's pattern)",
    "q104_hard_negatives" -> "16-row broadcast centroid frame (IVF cell assignment, q44's fan-out)",
    "q105_label_balance" -> "one-row broadcast of the max label count (epoch computation)",
    "q113_dedup_agreement" -> "dropsets consumers now SCAN the persisted drop-set artifact; kept allowlisted for the artifact-write path (q86's bounded 16-row centroid BNLJ inside the semantic pipeline) when a cold session materializes it at plan time",
    "q114_lsh_recall" -> "brute-force exact truth side: bounded ~3.4% doc sample broadcast against the prefix projection (q25/q76's fenced design)",
    "q117_source_dedup_report" -> "scans the persisted drop-set artifact (see q113); allowlisted for the cold-session artifact-write path",
    "q118_semantic_tau_sweep" -> "q86's bounded 16-row centroid-assignment BNLJ inside semanticMaxSim (q44's fan-out)",
    "q121_ivf_probe_sweep" -> "q76's fenced exact side + five q44 centroid-assignment BNLJs (one per probe level)",
    "q124_detector_truth_eval" -> "one-row broadcast of the truth-set-size scalar (q48's pattern); drop sets read from the persisted artifact (see q113)",
    "q127_pq_ann" -> "16-row broadcast centroid frame (IVF cell assignment feeding the PQ candidate join, q44's fan-out)",
    "q128_pq_recall" -> "brute-force exact-IP truth side (q25/q76's fenced design) + q127's bounded centroid assignment",
    "q134_truncation_recall" -> "fenced eval: bounded-query brute force on both the exact side and the four prefix-truncation sides (q25/q76's design)",
    "q136_pq_trained_recall" -> "brute-force exact-IP truth side (q128's fenced design) + bounded centroid assignment for the trained-codebook ADC side",
    "q138_dedup_token_impact" -> "one-row broadcast of the corpus-token-total scalar (q48's pattern); drop sets read from the persisted artifact (see q113)",
    "q140_token_budget_mix" -> "one-row broadcast of the source-count scalar against the source-cardinality-bounded per-source frame (q48's pattern)",
    "q143_cluster_purity" -> "two one-row broadcast scalars (P and T pair totals) joined to the one-row TP frame (q48's pattern; the metric row is 1x1x1)",
    "q146_index_cell_stats" -> "16-row broadcast centroid frame inside quantizedIndex (q94's fan-out); the stats reduce to one row",
    "q147_source_mix_drift" -> "two one-row broadcast side-total scalars against source-cardinality-bounded frames (q48's pattern)",
    "q150_release_report" -> "one-row scalar joins (BPE total, OOV rate) into the one-row base-stats frame; the report is an 8-row stack (q48's pattern)",
    "q152_temperature_mix" -> "one-row broadcast of the (total, Z_alpha) normalizer scalars against the source-cardinality-bounded per-source frame (q48's pattern)",
    "q154_centroid_drift" -> "two 16-row broadcast centroid frames inside quantizedIndex (q94's fan-out, once per side); everything after is (cell, pos)-bounded",
    "q155_release_diff" -> "one-row BPE-total scalar joined into each side's one-row card frame (q150's pattern); the diff join is 7x7 metric rows",
    "q157_source_fertility" -> "one-row broadcast of the corpus-token-total scalar against the source-cardinality-bounded per-source frame (q48/q140's pattern)",
    "q161_temperature_sample" -> "one-row broadcast of the (total, Z_alpha) normalizer scalars against the lang-cardinality-bounded plan frame (q152's pattern); the draw join is a lang-keyed broadcast",
    "q164_lang_fertility" -> "one-row broadcast of the corpus-token-total scalar against the (source, lang)-cardinality-bounded per-group frame (q48/q157's pattern)",
    "q166_token_temperature" -> "one-row broadcast of the (total-token, Z_alpha) normalizer scalars against the lang-cardinality-bounded plan frame (q161's pattern in token currency); the draw join is a lang-keyed broadcast",
    "q168_ledger_incremental" -> "16-row broadcast centroid frames inside the DELTA-side cell assignment (cellIndex/semanticDedup on the delta slice — q44/q86's allowlisted fan-out); every base-side structure is a persisted-artifact scan and every cross join is keyed",
    "q171_ledger_chain" -> "same bounded 16-row delta-side centroid-assignment BNLJ as q168, applied once per chained maintenance step (v1->v2 and v2->v3); base sides are persisted-artifact scans throughout",
    "q172_maintained_card" -> "one-row BPE-total scalar crossJoin inside releaseCard (q150's pattern); the maintained ledger is a persisted-artifact scan",
    "q173_maintained_diff" -> "one-row BPE-total scalar per card side (q155's pattern); both ledgers are persisted-artifact scans",
    "q174_ledger_bloom" -> "q168's bounded 16-row delta-side centroid-assignment BNLJ; the Bloom sketch is a one-row driver collect inlined as a literal (q84's fenced design)",
    "q178_cell_cap_rehearsal" -> "16-row broadcast centroid frame (q44's fan-out) — the rehearsal measures that assignment's own cell distribution",
    "q182_semantic_decon" -> "16-row broadcast centroid frame (q86's fan-out) feeding the cross-side contamination pairs; everything downstream is the cell-keyed equi-join",
    "q185_dsir_selection" -> "one-row p80-cut scalar crossJoin onto the per-doc weight frame (q150's fenced pattern); the llr table itself is a 128-row broadcast equi-join",
    "q188_decon_cost" -> "one-row scalar crossJoins composing each remedy-cost row from its bounded count/sum aggregates (q150's fenced pattern) — three 5-column rows total",
    "q193_dsir_ingest" -> "one-row frozen-cut scalar crossJoin onto the delta weight frame (q185's fenced pattern); the base-trained llr table is a 128-row broadcast equi-join",
    "q197_opq_recall" -> "brute-force exact-IP truth side (q136's fenced design) + bounded centroid assignment for each layout's trained-codebook ADC side",
    "q198_dsir_drift" -> "one-row frozen-cut scalar crossJoin onto each slice's weight frame (q193's fenced pattern, once per side); the llr table is a 128-row broadcast equi-join",
    "q199_decon_safety" -> "16-row broadcast centroid frame twice (q86/q182's fan-out: once for the safety stats, once inside the capped contamination side); the flag join is cell-keyed",
    "q201_lsh_band_sweep" -> "one-row scalar crossJoins composing each sweep row (prec x rec); the truth side and per-banding candidate tables are persisted-artifact scans, every candidate join (band, sigkey)-keyed",
    "q202_lsh_operating_point" -> "q201's one-row sweep-row crossJoins plus the one-row argmin scalar crossJoin over the 3-row theory frame (q48's pattern); the Riemann grid is a 200-row single-partition range",
    "q204_effective_epochs" -> "one-row broadcast of the (total, Z_alpha) normalizer scalars against the lang-cardinality-bounded per-language frame (q166's fenced pattern)",
    "q205_doremi_step" -> "two one-row broadcast scalars (max-quality/total and the EG normalizer Z) against the source-cardinality-bounded frame (q152's fenced pattern)",
    "q208_shard_manifest" -> "one-row broadcast of the total-kept-tokens scalar against the 8-row shard frame (q48's fenced pattern)",
    "q209_curriculum_phases" -> "two-scalar tercile-threshold broadcast against the doc scan + one-row token-total scalar on the 3-row phase frame (q153/q48's fenced patterns)",
    "q210_repeat_value_curve" -> "one-row (total, Z_alpha) normalizer scalar against the lang-cardinality-bounded frame (q204's fenced pattern, swept over 4 budget literals)",
    "q212_doremi_chained" -> "four one-row scalar crossJoins (batch maxima/total + three EG normalizers) against the source-cardinality-bounded frame (q205's fenced pattern, chained)",
    "q213_index_staleness" -> "brute-force exact truth side (q25/q76's fenced design) + two 16-row centroid-assignment BNLJs (q44's fan-out, one per index side)",
    "q214_stream_mixture" -> "one-row scalar crossJoin inside the release-prior artifact build on a cold session (q48's pattern); the audited read-back plan's joins are all source-keyed",
    "q215_curriculum_packing" -> "two-scalar tercile-threshold broadcast against the doc scan (q209's fenced pattern) feeding the packing fold",
    "q216_ivf_operating_point" -> "brute-force exact truth side (q25/q76's fenced design) + five 16-row centroid-assignment BNLJs (q121's fan-outs) + per-level one-row count/recall scalar crossJoins (q48's pattern)",
    "q219_index_tombstones" -> "two 16-row centroid-assignment BNLJs (q86's allowlisted fan-out: one inside the cell index, one inside the semantic drop list); the tombstone join is id-keyed, the occupancy joins cell-keyed",
    "q222_frozen_curriculum" -> "two 2-scalar tercile-threshold broadcasts (frozen + refit) against the doc scan (q209's fenced pattern, once per cut set)",
    "q226_release_assembly" -> "the q209/q215 2-scalar tercile-threshold broadcast against the doc scan feeding the composite packing fold",
    "q228_budget_waterfill" -> "one-row (total, Z) normalizer and 4-row budget-grid crossJoins against the lang-cardinality-bounded frame; the exact fill itself is one window pass + a budget_x-keyed broadcast join (round-16 rewrite)",
    "q229_ivfpq_residual" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs on each variant's corpus/query sides (q44's fan-out with collected 16-row centroids) + the one-row candidate-count scalar crossJoin",
    "q231_release_waterfill" -> "q228's one-row normalizer crossJoins once per release slice; the v1->v2 chain join is lang-keyed broadcast",
    "q232_stream_pq_index" -> "bounded trained-centroid assignment BNLJ (16 collected rows, q44's fan-out) inside the frozen-artifact encode — the base-index artifact write on a cold session and each micro-batch's own encode; everything else is a persisted-artifact scan",
    "q230_training_order" -> "one-row broadcast of the collected source-span array feeding interleaveRank's closed-form global rank (q48's scalar pattern) — the round-16 SinglePartition window's replacement",
    "q233_order_append" -> "one-row broadcasts of the released-total cursor scalar and each block's collected source-span array (interleaveRank, q230's pattern); the per-source/per-shard cursor joins are keyed broadcasts",
    "q234_pq_staleness" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs on the query side and each index build's encode (q232's fan-out)",
    "q235_ivfpq_operating_point" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs (query side keep=16 + the index build's encode) + the 5-row probe grid joined to the crank histogram and the truth side (q216's fenced sweep pattern)",
    "q236_mixture_order" -> "q228's one-row fill-normalizer crossJoins (source-keyed), the q209 2-scalar tercile broadcast, and the one-row collected span-array broadcast feeding weightedInterleaveRank's closed-form rank (q230's pattern at unequal stream lengths)",
    "q237_residual_opq" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs on each leg's corpus/query sides (q229's fan-out) + the one-row per-layout MSE scalar crossJoins (q48's pattern)",
    "q238_pq_retrain" -> "bounded frozen-centroid assignment BNLJs (q232's fan-out, one per monitored slice) + the one-row base-MSE reference scalar crossJoin (q48's pattern); the card is 3 rows",
    "q239_pq_index_chain" -> "bounded frozen-centroid assignment BNLJs (q232's fan-out: the cold-session released-artifact write + one per chained delta ingest); the released index is a persisted-artifact scan",
    "q240_pq_retrain_ladder" -> "bounded trained-centroid assignment BNLJs (q238's fan-out, one per regime row) + the one-row base-MSE reference scalar crossJoin (q48's pattern); the ladder is 3 rows",
    "q241_mixture_append" -> "q236's bounded broadcasts twice (frozen 2-scalar terciles, fill normalizers, per-block collected span arrays feeding the weighted closed form) + the one-row released-total cursor scalar and the (phase, source)-bounded released-count broadcast (q233's cursor pattern in the weighted geometry)",
    "q242_stream_opq_index" -> "q232's bounded trained-centroid assignment BNLJ (16 collected rows) inside the frozen perm-layout encode — the base-index artifact write on a cold session and each micro-batch's own encode; everything else is a persisted-artifact scan",
    "q243_adc_rerank" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs on the shortlist's corpus/query sides (q237's fan-out); the exact re-rank joins are id-keyed against the bounded |Q|x10 shortlist broadcast",
    "q244_order_tombstones" -> "one-row broadcast of the collected source-span array feeding interleaveRank's closed-form global rank (q230's allowlisted pattern; the mask accounting adds only keyed aggregates and shard-partitioned windows)",
    "q245_rerank_operating_point" -> "brute-force exact-IP truth side (q128's fenced design) + q243's bounded centroid-assignment BNLJs + per-level one-row exact-dot-budget scalar crossJoins (q216's fenced sweep pattern); the raw gather is one id-keyed join against the bounded max-shortlist broadcast",
    "q246_opq_index_serving" -> "brute-force exact-IP truth side (q128's fenced design) + bounded frozen-centroid assignment BNLJs on the query side and each bundle's encode (q232/q242's fan-out); both serving joins are cell-keyed against persisted-artifact scans",
    "q247_takedown_stream_cost" -> "q236's bounded broadcasts (q228 one-row fill normalizers + the q209 2-scalar tercile broadcast) feeding the occurrence explosion; the cost card is (phase x source)-bounded aggregates, no rank and no span broadcast",
    "q248_serving_stack" -> "brute-force exact-IP truth side (q128's fenced design) + bounded frozen-centroid assignment BNLJs (query side + the bundle encodes, q246's fan-out); the rerank gather is one id-keyed join against the bounded |Q|x10 shortlist broadcast",
    "q249_pq_index_tombstones" -> "bounded frozen-centroid assignment BNLJs (q232's fan-out: the cold-session released-artifact write + the delta encode); the tombstone drop is a scan-stage filter on the maintained rows",
    "q250_mixture_chain" -> "q241's bounded broadcasts once per chained step (frozen terciles/fill normalizers, per-block span arrays, running seq/position cursor frames — all (phase x source)- or one-row-bounded, q233's cursor pattern chained)",
    "q251_ann_operating_grid" -> "brute-force exact-IP truth side (q128's fenced design) + bounded trained-centroid assignment BNLJs (keep=16 query side + the index encode, q235's fan-out) + per-cell one-row exact-dot-budget scalar crossJoins (q216/q245's fenced sweep pattern); the raw gather is one id-keyed join against the bounded swept-shortlist broadcast")

  /** Queries whose plan BUILD executes real work (the
    * PlanAuditSpec-documented exceptions: streaming ingest loops,
    * eager cluster-maintenance iterations, versioned-bundle
    * materialization, bounded training-artifact collects). Splitting
    * them out keeps the default sweep a pure plan-construction pass —
    * `sbt test` still runs BOTH halves (VERDICT r13 #6: the tag is a
    * selection handle for cheap per-wave iteration via
    * `testOnly * -- -l graft.SlowPlanAudit`, not a CI exclusion).
    */
  private[graft] val eagerAtBuild: Set[String] = Set(
    "q112_daily_history", "q115_stream_neardup", "q123_stream_simhash",
    "q135_stream_semantic", "q137_stream_index_ingest",
    "q141_incremental_clusters", "q142_cluster_ingest_chain",
    "q144_stream_clusters", "q149_stream_spans", "q160_stream_containment",
    "q171_ledger_chain", "q172_maintained_card", "q173_maintained_diff",
    "q179_stream_ledger", "q183_aniso_audit", "q184_opq_gain",
    "q186_heavy_hitters", "q189_stream_histogram",
    "q190_stream_heavy_hitters", "q197_opq_recall",
    "q214_stream_mixture", "q224_stream_quota", "q225_stream_packing",
    "q227_stream_decon",
    // q229/q232 collect bounded training artifacts at plan time
    // (refined coarse centroids + one-Lloyd codebooks — q197's
    // class); q232 additionally runs its streaming ingest loop
    "q229_ivfpq_residual", "q232_stream_pq_index",
    "q234_pq_staleness", "q235_ivfpq_operating_point",
    // q237/q238 collect trained coarse cells + residual codebooks
    // (bounded artifacts) at plan time — q229's class
    "q237_residual_opq", "q238_pq_retrain", "q239_pq_index_chain",
    "q240_pq_retrain_ladder",
    // q242 collects the frozen OPQ bundle + runs its ingest loop at
    // plan time (q232's class); q243/q245 collect the aniso trained
    // artifacts (q237's class); q246 collects both frozen bundles +
    // cold-session artifact writes
    "q242_stream_opq_index", "q243_adc_rerank",
    "q245_rerank_operating_point", "q246_opq_index_serving",
    // q248/q249 collect the frozen bundles + cold-session artifact
    // writes (q246/q232's class); q251 collects the aniso trained
    // artifacts (q237/q243's class)
    "q248_serving_stack", "q249_pq_index_tombstones",
    "q251_ann_operating_grid")

  /** The driver's verifier compares query outputs through pandas
    * `sort_values`, which crashes on unhashable cells — so NO
    * registered query may output an Array/Map/Binary column (or a
    * struct containing one). q81 hit this in round 6 and q137 in
    * round 10; both times the discipline lived only in comments.
    * This makes it a sweep verdict (`COMPLEX-OUTPUT`) so it fails CI
    * (VERDICT r10 #2). Render lists as CSV strings instead
    * (`array_join(transform(c, _.cast("string")), ",")`).
    */
  private[graft] def hasComplexType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: ArrayType | _: MapType | BinaryType => true
      case s: StructType => s.fields.exists(f => hasComplexType(f.dataType))
      case _ => false
    }
  }

  /** One sweep result: (query, verdict, detail). Verdicts: `ok`,
    * `bnlj-allowed`, and the failures `CARTESIAN` / `UNEXPECTED-BNLJ` /
    * `COMPLEX-OUTPUT` / `ERROR`.
    */
  private[graft] def sweep(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
        SparkEntry.queries): Seq[(String, String, String)] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        // plan construction only — no execution; sf0.001 keeps any
        // plan-time input materialization (Artifacts.dir) trivial
        val df = fn(spark, sfDir)
        val p = df.queryExecution.executedPlan.toString
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin")
        val complexCols =
          df.schema.fields.filter(f => hasComplexType(f.dataType)).map(_.name)
        if (cart) (name, "CARTESIAN", "")
        else if (bnlj && !allowedBnlj.contains(name)) (name, "UNEXPECTED-BNLJ", "")
        else if (complexCols.nonEmpty)
          (name, "COMPLEX-OUTPUT", complexCols.mkString(","))
        else if (bnlj) (name, "bnlj-allowed", allowedBnlj(name))
        else (name, "ok", "")
      } catch { case scala.util.control.NonFatal(e) =>
        (name, "ERROR", String.valueOf(e.getMessage).take(100))
      }
    }

  private[graft] def failures(rs: Seq[(String, String, String)]): Seq[(String, String, String)] =
    rs.filterNot(r => r._2 == "ok" || r._2 == "bnlj-allowed")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rs = sweep(spark, sfDir)
    rs.foreach {
      case (name, "ok", _) => println(s"AUDIT $name: ok")
      case (name, "bnlj-allowed", why) => println(s"AUDIT $name: bnlj-allowed ($why)")
      case (name, verdict, detail) => println(s"AUDIT $name: $verdict $detail")
    }
    println(s"AUDIT_BAD=${failures(rs).size}")
    spark.stop()
  }
}
