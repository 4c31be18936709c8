package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden-plan pins for the headline batch queries (VERDICT r16 #8):
  * plan-shape invariants — join strategies, exchange ceilings, native
  * operators, the no-BNLJ/no-cartesian rule — parsed from
  * `explain(formatted)` and asserted in CI, so a silent plan
  * regression (an AQE flip, a lost partial aggregate, a broadcast
  * that stopped broadcasting) fails the suite in minutes instead of
  * surfacing as an unexplained bench drift three rounds later (q106's
  * 0.71→1.26 s history is the motivating case: the round-17 plan diff
  * against the round-14 dump came back bit-identical, which this spec
  * would have established immediately).
  *
  * Pinned at sf0.01 with the suite session's AQE on: counts are of
  * operator NAMES in the formatted plan tree (cache/QueryStage nodes
  * excluded from pins — their presence varies with materialization
  * state; join/exchange/native-operator structure does not).
  * Sensitivity is self-tested: under autoBroadcastJoinThreshold=-1
  * the q02/q07 size-driven broadcasts must flip to SortMergeJoin and
  * violate their pins (the explicit-hint broadcasts of q03/q109
  * survive, as hints ignore the threshold).
  */
class GoldenPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.01"

  private val OpRe = """\(\d+\) ([A-Za-z]+)""".r

  private def opCounts(name: String,
      session: org.apache.spark.sql.SparkSession): Map[String, Int] = {
    graft.functions.PersistLeases.releaseAll()
    session.catalog.clearCache()
    val s = Registry.all(name).impl(session, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    OpRe.findAllMatchIn(s).map(_.group(1)).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** op -> (min, max) occurrences in the formatted plan. */
  private val Pins: Seq[(String, Map[String, (Int, Int)])] = Seq(
    "q02_join_agg" -> Map("BroadcastHashJoin" -> (2, 2),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 2)),
    "q03_broadcast_join" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 1)),
    "q07_interval_join_binned" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 2),
      "Generate" -> (2, 2)),
    "q11_closure" -> Map("BroadcastHashJoin" -> (0, 0),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 1)),
    "q21_doc_exact_dedup" -> Map("HashAggregate" -> (2, 2),
      "Exchange" -> (0, 2), "SortMergeJoin" -> (0, 0)),
    "q26_minhash_sig" -> Map("MapPartitions" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 2)),
    "q27_lsh_pairs" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 4)),
    "q53_embed_neardup" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 4)),
    // the q106 watch item's diagnostic: 2 HashAggregates = partial+
    // final pair intact; 1 Generate = single explode; no joins
    "q106_heavy_hitters" -> Map("HashAggregate" -> (2, 2),
      "Generate" -> (1, 1), "BroadcastHashJoin" -> (0, 0),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 3)),
    "q109_bloom_decontaminate" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "MapPartitions" -> (1, 1),
      "Exchange" -> (0, 3)),
    // the native grouped-top-k physical operators must stay planned
    "q148_native_grouped_topk" -> Map("GroupedTopKPartial" -> (1, 1),
      "GroupedTopKFinal" -> (1, 1), "Exchange" -> (0, 2)),
    // BNLJ allowlist: the two 1-row/constant-aggregate cross
    // broadcasts (corpus stats, query vector) — r16's audit counted
    // these legitimate; the pin keeps the count from regrowing
    "q176_rrf_fusion" -> Map("BroadcastNestedLoopJoin" -> (0, 2),
      "BroadcastHashJoin" -> (1, 2), "SortMergeJoin" -> (0, 1),
      "TakeOrderedAndProject" -> (3, 3)),
    // cache pins (VERDICT r18 #8): 4 InMemoryTableScans = the
    // lease-persisted input corpus (2 references: signature pass +
    // survivors anti-join) and the persisted signature frame read by
    // both band self-join sides; with no hot bucket the banded frame
    // itself is not persisted (the exchange-reuse count-skip), so 4,
    // not the former 5. A lost persist re-executes the upstream chain
    // per consumer and the count drops (sensitivity-tested below)
    "q186_calibrated_neardup" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 1), "MapPartitions" -> (2, 2),
      "InMemoryTableScan" -> (4, 4)),
    // the flagship composed pipeline (quality -> exact dedup ->
    // calibrated near-dup): its stage inputs are lease-persisted
    // (round 18's q190 win) — the cache pin makes losing one loud
    "q190_selftuning_pipeline" -> Map("BroadcastHashJoin" -> (3, 3),
      "SortMergeJoin" -> (0, 1), "MapPartitions" -> (2, 2),
      "Generate" -> (2, 2), "InMemoryTableScan" -> (4, 4),
      "Exchange" -> (0, 9)),
    // round-18 additions (VERDICT r17 #4): the calibrated family and
    // the round's reshaped queries — multi-stage plans where a silent
    // AQE flip or a lost one-pass operator would hide longest
    "q58_corpus_pipeline" -> Map("BroadcastHashJoin" -> (3, 3),
      "SortMergeJoin" -> (0, 1), "MapPartitions" -> (2, 2),
      "Generate" -> (2, 2), "Exchange" -> (0, 9)),
    // one-pass winnowing: exactly one MapPartitions, no joins, the
    // partial+final aggregate pair — the q84/q192 map-only contract
    "q84_winnowing" -> Map("MapPartitions" -> (1, 1),
      "HashAggregate" -> (2, 2), "BroadcastHashJoin" -> (0, 0),
      "SortMergeJoin" -> (0, 0), "Exchange" -> (0, 3)),
    "q187_calibrated_embed_neardup" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "Generate" -> (2, 2),
      "HashAggregate" -> (2, 2), "Exchange" -> (0, 4)),
    // one MapPartitions = the one-pass fingerprint stage (the second
    // is the verify-side re-read of the same cached frame); the band
    // join stays a broadcast over the guarded split
    "q191_calibrated_simhash64" -> Map("BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "MapPartitions" -> (2, 2),
      "Generate" -> (2, 2), "Exchange" -> (0, 4)),
    // span-dedup stage: ONE fingerprint pass (the window-count form —
    // a second MapPartitions here means the fps subplan duplicated
    // again), one fp-partitioned window, anti-join broadcast
    "q192_span_dedup_stage" -> Map("MapPartitions" -> (1, 1),
      "Window" -> (1, 1), "BroadcastHashJoin" -> (1, 1),
      "SortMergeJoin" -> (0, 0), "HashAggregate" -> (4, 4),
      "Exchange" -> (0, 6)))

  test("headline plans hold their pinned invariants") {
    val failures = collection.mutable.ArrayBuffer[String]()
    for ((name, pins) <- Pins) {
      val ops = opCounts(name, spark)
      // global rules for every pinned query
      val global = Map("CartesianProduct" -> (0, 0)) ++
        (if (!pins.contains("BroadcastNestedLoopJoin"))
          Map("BroadcastNestedLoopJoin" -> (0, 0)) else Map.empty)
      for ((op, (lo, hi)) <- pins ++ global) {
        val c = ops.getOrElse(op, 0)
        if (c < lo || c > hi)
          failures += s"$name: $op=$c outside [$lo,$hi]" +
            s" (plan ops: ${ops.toSeq.sortBy(_._1).mkString(", ")})"
      }
    }
    assert(failures.isEmpty, "plan regressions:\n" + failures.mkString("\n"))
  }

  test("pins are sensitive: broadcast-threshold -1 violates q02/q07") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q02 = opCounts("q02_join_agg", s2)
      val q07 = opCounts("q07_interval_join_binned", s2)
      assert(q02.getOrElse("SortMergeJoin", 0) > 0 ||
        q02.getOrElse("BroadcastHashJoin", 0) < 2,
        "q02 pin failed to detect the forced non-broadcast plan")
      assert(q07.getOrElse("SortMergeJoin", 0) > 0 ||
        q07.getOrElse("BroadcastHashJoin", 0) < 1,
        "q07 pin failed to detect the forced non-broadcast plan")
    } finally {
      s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      graft.functions.PersistLeases.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("cache pins are sensitive: dropping the persists trips the q190 pin") {
    graft.functions.PersistLeases.releaseAll()
    spark.catalog.clearCache()
    val df = Registry.all("q190_selftuning_pipeline").impl(spark, dir)
    // simulate the lost-persist regression: the stage-input caches
    // are dropped before the plan is first materialized (the frame's
    // queryExecution is lazy, so planning below sees no cache entries
    // — exactly what a silently-removed persist() would produce)
    graft.functions.PersistLeases.releaseAll()
    spark.catalog.clearCache()
    val s = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val imts = OpRe.findAllMatchIn(s).map(_.group(1)).toSeq
      .count(_ == "InMemoryTableScan")
    assert(imts < 4,
      s"clearing the caches left $imts InMemoryTableScans — the (4,4)" +
        " pin could never trip and must be re-derived")
  }
}
