package graft

/** Physical-plan assertions: the scale-relevant plan properties the
  * engine is designed around (SURVEY.md §4) — filter/column pushdown to
  * parquet, broadcast joins for small dims, keyed (never cartesian)
  * similarity joins, WholeStageCodegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  /** AQE only materializes codegen stages once executed. */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters and projection pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // projection pruned: scan schema must NOT include unused l_tax
    assert(!p.contains("l_tax"), p)
  }

  test("q03: small dim is broadcast") {
    assert(plan("q03_join_agg").contains("BroadcastHashJoin"))
  }

  test("q19 flagship: no cartesian product, joins are keyed") {
    // one day-keyed cogroup: a single hash exchange on `day` per side,
    // no window rank, no broadcast, no cartesian
    val p = plan("q19_consolidate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastExchange"), p)
    assert(p.contains("CoGroup"), p)
    val hashKeys = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashKeys.size == 2 && hashKeys.forall(_.matches("day#\\d+, \\d+")), p)
  }

  test("q25 knn: query side broadcast, corpus streamed") {
    val p = plan("q25_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation runs inside WholeStageCodegen") {
    // codegen stages render as "*(n) HashAggregate" in the tree string
    assert(executedPlan("q01_pricing_summary").contains("*(1)"))
  }

  test("custom expressions do not break codegen") {
    // q17 uses StripAccents + normName (custom expression in the middle
    // of builtins) — the projection must still be codegen'd
    assert(executedPlan("q17_accents").contains("*(1)"))
  }

  test("q22 minhash candidates: equi-join on (band, minhash), no cross") {
    val p = plan("q22_minhash_candidates")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q22: scans the persisted signature TABLE, not raw documents") {
    // the dedup family reads the session-persisted corpus signature
    // table (corpusSignatures — the 100 TB shape: signatures are an
    // output of the corpus build); q22's own read plan must contain
    // the signature parquet scan and ZERO documents scans — a
    // documents scan reappearing means the shingle+minhash pass leaked
    // back into the consumer (the regression the shared table removed;
    // its former incarnation, the bucket self-join, scanned it twice)
    val df = SparkEntry.queries("q22_minhash_candidates")(spark, sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // AQE prints initial plan below
    assert("documents\\.parquet".r.findAllIn(finalPlan).isEmpty, finalPlan)
    assert("graft_sig8_".r.findAllIn(finalPlan).nonEmpty, finalPlan)
  }

  test("q43 exact greedy: shuffles keyed by day, no cartesian") {
    val p = plan("q43_consolidate_exact")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("CoGroup"), p)
  }

  test("q44 ivf: probe is an equi-join on the cell id") {
    val p = plan("q44_ivf_ann")
    // the 16-row centroid frame may cross-join (bounded, broadcast);
    // the corpus-side probe join itself must be hash-keyed
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q73 domain mix: quota table broadcast, no shuffle join") {
    val p = plan("q73_domain_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q36 lsh near-dup: bucket join is hash-keyed, not cartesian") {
    val p = plan("q36_embed_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q86 semantic dedup: pair join keyed by cell, never cartesian") {
    val p = plan("q86_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p)
    // the only NLJ allowed is the bounded 16-row centroid assignment;
    // the pair join itself must be an equi-join on the cell id
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("q92 span dedup: no cartesian; dedup and rebuild are keyed exchanges") {
    val p = plan("q92_span_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the span-hash window and the doc_id rebuild each hash-partition
    assert(p.contains("hashpartitioning"), p)
  }

  test("q93 bpe merge: top-20 via TakeOrdered, not a global sort") {
    val p = plan("q93_bpe_merge")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q95 persisted incremental dedup: base side scans the signature table, not documents") {
    // the whole point of q95: the base corpus is NOT re-minhashed — the
    // only documents.parquet scan is the delta batch; the base side is
    // a scan of the persisted (doc_id, band, minhash) table
    val df = SparkEntry.queries("q95_incremental_persisted")(spark, sf0001)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("documents\\.parquet".r.findAllIn(finalPlan).length == 1, finalPlan)
    assert("graft_q95_sig_".r.findAllIn(finalPlan).nonEmpty, finalPlan)
  }

  test("q103 sign projection: no joins, the only exchange is the output sort") {
    // the scan-speed claim: constant-folded matrix rows mean pure
    // per-row arithmetic — a join or a second shuffle would mean the
    // projection stopped being scan-pipelined
    val df = SparkEntry.queries("q103_random_projection")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), p)
    assert("ShuffleQueryStage (\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size <= 1, p)
  }

  test("q105 label balance: epoch table broadcast, corpus side never shuffle-joined") {
    val df = SparkEntry.queries("q105_label_balance")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q107 snapshot diff: doc_id-keyed sort-merge full-outer, nothing broadcast") {
    // both snapshot sides are corpus-scale by construction, so a
    // broadcast on either would be a scale bug; SMJ on the id is THE plan
    val p = executedPlan("q107_snapshot_diff").split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastExchange"), p)
  }

  test("q109 cluster survivor: argmax is a hash aggregate, not a per-cluster window sort") {
    val p = executedPlan("q109_cluster_survivor").split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the longest-member pick must be the map-side-combinable max(struct)
    assert(p.contains("max(struct("), p)
    assert(!p.contains("row_number"), p)
  }

  test("q111 ngram novelty: no joins; shingle + doc_id keyed exchanges only") {
    val p = executedPlan("q111_ngram_novelty").split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), p)
    assert(p.contains("hashpartitioning(g"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("q87/q88: bounded model and vocab tables broadcast back to the scan") {
    // the charset^2 bigram model (and its ctx/vsize derivatives) and
    // the top-k vocab must broadcast — a shuffled scoring join would
    // re-shuffle the corpus-sized token/bigram frame
    for (q <- Seq("q87_bigram_lm", "q88_oov_rate")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }
}
