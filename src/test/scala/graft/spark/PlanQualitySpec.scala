package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

import graft.pipeline.ClpPipeline
import graft.search.JsonSearch

/** Physical-plan assertions: filters/projections reach the parquet scan,
  * dimension joins broadcast, aggregations split partial/final, windowed
  * count stays a single shuffle — the plans we'd want at 100 TB, not just
  * plans that pass. */
class PlanQualitySpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  /** Materialize first so AQE's *final* plan (with WholeStageCodegen spans)
    * is the one asserted — the pre-execution AdaptiveSparkPlan hides them. */
  private def executedPlan(df: DataFrame): String = {
    df.collect()
    plan(df)
  }

  test("q2: predicate pushdown + column pruning reach the scan") {
    val p = plan(graft.GraftQueries.queries("q2_filter_pushdown")(spark, sf))
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(l_quantity"))
    // only the referenced columns are read
    assert(p.contains("l_orderkey") && !p.contains("l_extendedprice"))
  }

  test("q3: dimension chain uses broadcast hash joins, no sort-merge") {
    val p = plan(graft.GraftQueries.queries("q3_join_broadcast")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q1: aggregation is partial/final hash aggregate inside codegen") {
    val p = executedPlan(graft.GraftQueries.queries("q1_agg")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2) // partial + final
    assert(p.contains("[codegen id :"))
  }

  test("q4/q5: semi and anti joins stay broadcast at dimension scale") {
    assert(plan(graft.GraftQueries.queries("q4_semi_join")(spark, sf))
      .contains("LeftSemi"))
    assert(plan(graft.GraftQueries.queries("q5_anti_join")(spark, sf))
      .contains("LeftAnti"))
  }

  test("clp_encode stays inside whole-stage codegen") {
    val p = executedPlan(graft.GraftQueries.queries("clp_roundtrip")(spark, sf))
    assert(p.contains("[codegen id :"))
    assert(p.contains("clp_encode") || p.contains("clp_decode"))
  }

  test("knn: vec_dot scoring runs inside whole-stage codegen") {
    val p = executedPlan(graft.GraftQueries.queries("knn_bruteforce")(spark, sf))
    assert(p.contains("vec_dot"))
    assert(p.contains("[codegen id :"))
  }

  test("lsh bucket + score are codegen'd vec_dot — no Scala UDF, no HOF fold") {
    val p = executedPlan(graft.GraftQueries.queries("knn_lsh")(spark, sf))
    assert(p.contains("vec_dot"))
    assert(!p.contains("UDF("), "per-row Scala UDF crept back into the LSH path")
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF fold in the scoring path")
    assert(p.contains("[codegen id :"))
    val p2 = executedPlan(graft.GraftQueries.queries("dedup_embedding_lsh")(spark, sf))
    assert(p2.contains("vec_dot") && p2.contains("[codegen id :") && !p2.contains("UDF("))
  }

  test("broadcast-mode decode is UDF-free: split_vars + dict_values expressions") {
    // clp_extract_e2e drives withDecodedText in broadcast mode end-to-end
    val p = executedPlan(graft.GraftQueries.queries("clp_extract_e2e")(spark, sf))
    assert(p.contains("clp_split_vars") || p.contains("dict_values"),
      "expected the codegen'd decode expressions in the plan")
    assert(!p.contains("UDF("), "interpreted UDF crept back into the decode path")
    assert(p.contains("[codegen id :"))
  }

  test("encode resolution is the codegen'd clp_resolve expression — UDF-free") {
    import graft.pipeline.{Dictionaries, TranscriptGen}
    val parsed = ClpPipeline.parse(TranscriptGen.turns(spark, 2000, seed = 7L).toDF)
    // driver mode (dicts under the threshold): clp_resolve carries the maps
    val b = Dictionaries.build(parsed, saltParts = 4, maxSinks = 8,
      threshold = ClpPipeline.DriverDictThreshold)
    val maps = b.mode match {
      case m: Dictionaries.DriverMaps => m
      case other => fail(s"expected driver maps under the default threshold, got $other")
    }
    val pb = executedPlan(maps.resolve(parsed))
    assert(pb.contains("clp_resolve"), "expected the codegen'd encode expression")
    assert(!pb.contains("UDF("), "interpreted UDF crept back into the encode path")
    assert(pb.contains("[codegen id :"))
    // the driver-mode dictionary tables take their ids from the same maps
    val pt = executedPlan(b.logtypes) + executedPlan(b.vars)
    assert(pt.contains("dict_id") && !pt.contains("UDF("),
      "interpreted UDF crept back into the dictionary tables")
    b.release()
    // distributed mode (threshold 0): the var splice is clp_merge_vars
    val b0 = Dictionaries.build(parsed, saltParts = 4, maxSinks = 8, threshold = 0L)
    assert(b0.mode == Dictionaries.Distributed)
    val pd = executedPlan(Dictionaries.resolveDistributed(parsed, b0.logtypes, b0.vars, 3))
    assert(pd.contains("clp_merge_vars"), "expected the codegen'd merge expression")
    assert(!pd.contains("UDF("), "interpreted UDF crept back into the distributed merge")
    b0.release()
  }

  /** Runs `body` under a query-execution listener and asserts that no plan
    * it executed (analyzed or physical) contains an interpreted UDF; returns
    * the executed plans so a caller can check they cover what it ran. */
  private def assertNoUdfPlans(what: String)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> s"${qe.analyzed}\n${qe.executedPlan}")
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.forEach { case (name, p) =>
      assert(!p.contains("UDF("), s"interpreted UDF in a $name plan of $what:\n$p")
    }
    plans.asScala.toSeq.map(_._2)
  }

  test("no plan a ClpPipeline.run executes contains an interpreted UDF") {
    import graft.pipeline.TranscriptGen
    val out = java.nio.file.Files.createTempDirectory("graft-run-plans").toString
    val turns = TranscriptGen.turns(spark, 2000, seed = 7L).toDF
    val plans = assertNoUdfPlans("ClpPipeline.run") {
      ClpPipeline.run(spark, turns, ClpPipeline.Config(out, maxSinks = 8, saltParts = 4))
    }
    assert(plans.size >= 5, s"expected every stage's plans, got ${plans.size}")
  }

  test("no plan the JSON route, kqlSearch or extract executes contains an interpreted UDF") {
    import spark.implicits._
    import graft.pipeline.JsonPipeline
    val out = java.nio.file.Files.createTempDirectory("graft-json-plans").toString
    val jsonl = Seq(
      """{"id":0,"ts":"2024-01-01 10:00:00","msg":"a b","f":1.50,"arr":[{"a":1}]}""",
      """{"id":1,"ts":"2024-01-01 11:00:00","msg":"c d","f":2.25,"arr":[{"a":7}]}""",
      """{"id":2,"ts":"2024-01-02 09:00:00","tags":["x","y"]}""").toDF("json")
    val plans = assertNoUdfPlans("the JSON slice") {
      JsonPipeline.route(spark, jsonl, "json", out, options = JsonPipeline.Options(
        timestampKey = Some("ts"), structurizeArrays = true, retainFloatFormat = true))
      assert(JsonPipeline.kqlSearch(spark, out, "arr.a > 5 OR tags : y", Seq("id"))
        .as[Long].collect().toSet == Set(1L, 2L))
      assert(new JsonSearch(spark, out).extract().collect().length == 3)
    }
    // the shaping and reserialize steps ran, as the codegen'd expressions
    assert(plans.exists(_.contains("json_shape")), "no plan shaped the records")
    assert(plans.exists(_.contains("json_reserialize")), "no plan reserialized a record")
  }

  test("the JSON records write without an order column plans over its input, not an RDD") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-json-rdd-src").toString
    Seq.tabulate(60)(i => s"""{"n":$i}""").toDF("json").repartition(3)
      .write.mode("overwrite").text(src)
    val out = java.nio.file.Files.createTempDirectory("graft-json-rdd").toString
    val plans = assertNoUdfPlans("the JSON route") {
      graft.pipeline.JsonPipeline.route(spark,
        spark.read.text(src).withColumnRenamed("value", "json"), "json", out)
    }
    val writes = plans.filter(p =>
      p.contains("InsertIntoHadoopFsRelationCommand") && p.contains(s"$out/records"))
    assert(writes.nonEmpty, "no plan wrote the records")
    writes.foreach(p => assert(!p.contains("LogicalRDD") && !p.contains("ExistingRDD"),
      s"the records write scans an RDD:\n$p"))
  }

  test("curation gates: broadcasts where intended, no cartesian blowups") {
    // unigram LM: the one-row corpus total rides a broadcast, never a
    // shuffle; the vocab join may be broadcast or shuffle (AQE by size)
    val p1 = executedPlan(
      graft.GraftQueries.queries("text_unigram_logprob")(spark, sf))
    assert(p1.contains("BroadcastNestedLoopJoin") || p1.contains("BroadcastHashJoin"))
    assert(!p1.contains("CartesianProduct"))
    // temperature mixing: the tiny per-language epoch table broadcasts
    val p2 = executedPlan(graft.GraftQueries.queries("mix_temperature")(spark, sf))
    assert(p2.contains("BroadcastHashJoin") || p2.contains("BroadcastNestedLoopJoin"))
    assert(!p2.contains("CartesianProduct") && !p2.contains("SortMergeJoin"))
    // substring dedup: duplicated-window filter is a semi join on the
    // 8-byte hash, and nothing degenerates to a cross join
    val p3 = executedPlan(graft.GraftQueries.queries("dedup_substring")(spark, sf))
    assert(p3.contains("LeftSemi") && !p3.contains("CartesianProduct"))
    // classifier: integer feature scoring stays a partial/final hash
    // aggregate inside codegen — no UDF, no FP in the sum
    val p4 = executedPlan(
      graft.GraftQueries.queries("text_classifier_score")(spark, sf))
    assert("HashAggregate".r.findAllIn(p4).size >= 2 && p4.contains("[codegen id :"))
    assert(!p4.contains("UDF("))
  }

  test("json archive: schema_id filter is a partition filter (directory pruning)") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-json-plan").toString
    val jsonl = Seq(
      """{"a":"x y","k":1}""", """{"a":"z w","k":2}""", """{"b":true}""")
      .toDF("json")
    graft.pipeline.JsonPipeline.route(spark, jsonl, "json", out)
    val p = plan(spark.read.parquet(s"$out/records")
      .filter(org.apache.spark.sql.functions.col("schema_id") === "nope"))
    assert(p.contains("PartitionFilters") && p.contains("schema_id"))
  }

  test("kql on a single-schema column prunes the other schemas' scans from the plan") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-json-prune").toString
    val jsonl = Seq(
      """{"a":"x y","k":1}""", """{"a":"z w","k":2}""",
      """{"b":true}""", """{"c":5}""")
      .toDF("json")
    graft.pipeline.JsonPipeline.route(spark, jsonl, "json", out)
    // `k` exists in ONE schema: the other branches' predicates fold to
    // false (SchemaMatch pruning), and Catalyst's PruneFilters turns those
    // union branches into empty relations — exactly one scan survives
    val df = graft.pipeline.JsonPipeline.kqlSearch(spark, out, "k >= 1", Seq("k"))
    val p = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 surviving scan, got $scans:\n$p")
    assert(df.count() == 2)
  }

  test("pack_sequences: the packing window shuffles once, keyed on shard") {
    val p = executedPlan(graft.GraftQueries.queries("pack_sequences")(spark, sf))
    // the cumulative-sum window must partition on the shard key (parallel
    // across shards — no global sort of the corpus)
    assert(p.contains("Window") && p.contains("hashpartitioning(shard"))
  }

  test("dedup_paragraph: chunk dedup is a partial/final agg, not a window on text") {
    val p = executedPlan(graft.GraftQueries.queries("dedup_paragraph")(spark, sf))
    assert(p.contains("hashpartitioning(chunk"))
    // min(struct) groupBy gets map-side combine; a row_number window on the
    // chunk string would pile every copy of a hot chunk into one task
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
    assert(!p.contains("Window"), "window exchange crept back into the chunk dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("corpus_filter_chain: contamination anti-join broadcasts the heldout side") {
    val p = executedPlan(graft.GraftQueries.queries("corpus_filter_chain")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"))
    assert(!p.contains("SortMergeJoin"))
    // the exact-dedup step is groupBy(text).agg(min(struct)) — partial agg
    // absorbs duplicate skew; no Window exchange on a raw-text key
    assert(!p.contains("Window"), "window exchange crept back into the dedup step")
  }

  test("text_classifier_weighted: the model table joins broadcast, agg is partial/final") {
    val p = executedPlan(graft.GraftQueries.queries("text_classifier_weighted")(spark, sf))
    // the (feature_hash, weight) model side is model-sized — it must ride a
    // broadcast, never shuffle the corpus-sized feature stream into a
    // sort-merge join
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
  }

  test("search candidates prune with partition filter on sink_id") {
    val out = java.nio.file.Files.createTempDirectory("graft-plan").toString
    val turns = graft.pipeline.TranscriptGen.turns(spark, 1500, seed = 5L).toDF
    graft.pipeline.ClpPipeline.run(spark, turns,
      graft.pipeline.ClpPipeline.Config(out, maxSinks = 8, saltParts = 4))
    val engine = new graft.search.ClpSearch(spark, out)
    val Some((df, _)) = engine.candidates("*connection error*")
    val p = plan(df)
    // sink_id is a partition column of the routed table: the filter must be a
    // partition filter (directory pruning), not a data filter
    assert(p.contains("PartitionFilters") && p.contains("sink_id"))
  }

  test("vocab_topk: partial/final agg + TakeOrderedAndProject, no global sort") {
    val p = executedPlan(graft.GraftQueries.queries("vocab_topk")(spark, sf))
    // per-partition top-k merge on the driver — the full vocabulary must
    // never pass through a global Sort/Exchange to satisfy the limit
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(30).mkString("\n"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
  }

  test("ccnet_ppl_buckets: bucketing adds no window/sort over the score pass") {
    val p = executedPlan(graft.GraftQueries.queries("ccnet_ppl_buckets")(spark, sf))
    // fixed-threshold buckets are per-row CASE exprs: the only shuffles are
    // the two aggregations (vocab, per-doc) + the model join — a
    // percentile-rank bucketing would add a Window over the whole corpus
    assert(!p.contains("Window"), "global window crept into the bucketing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
  }

  test("corpus_stats: single partial/final aggregation pass, no window") {
    val p = executedPlan(graft.GraftQueries.queries("corpus_stats")(spark, sf))
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final agg")
    assert(!p.contains("Window"))
  }

  test("corpus_stats approx swap: HLL plan drops Expand and the distinct's extra shuffle") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the pure 100 TB datasheet plan (what corpus_stats_approx certifies):
    // one partial/final agg over mergeable sketches — no Expand, exactly one
    // exchange; the exact countDistinct plan needs Expand or a second agg level
    // count Exchange NODES in the AQE final-plan tree (the formatted dump
    // repeats each node in the details section and the initial plan)
    def shuffles(p: String): Int = {
      val tree =
        if (p.contains("== Final Plan ==") && p.contains("== Initial Plan =="))
          p.substring(p.indexOf("== Final Plan =="), p.indexOf("== Initial Plan =="))
        else p.takeWhile(_ != '(') // tree section precedes node details
      "\\bExchange \\(".r.findAllIn(tree).size
    }
    val hll = executedPlan(docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      approx_count_distinct(col("text"), 0.05).as("n_uniq")))
    assert(!hll.contains("Expand"), "HLL plan must not expand rows")
    assert(shuffles(hll) == 1, "HLL plan is one shuffle")
    val exact = executedPlan(docs.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_uniq")))
    assert(exact.contains("Expand") ||
      "HashAggregate".r.findAllIn(exact).size >
        "HashAggregate".r.findAllIn(hll).size,
      "exact distinct should cost strictly more plan than the sketch")
  }

  test("logs_spike_detect: two agg passes + broadcast moments, no window") {
    val p = executedPlan(graft.GraftQueries.queries("logs_spike_detect")(spark, sf))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("clp_encoded_agg: decode-free encoded-domain aggregate over a broadcast dict join") {
    val p = executedPlan(graft.GraftQueries.queries("clp_encoded_agg")(spark, sf))
    // the whole aggregate runs on raw encoded vars: no decode expression,
    // no UDF; the logtype dictionary rides a broadcast, the corpus never
    // shuffles into a sort-merge join; partial/final agg
    assert(!p.contains("clp_decode") && !p.contains("UDF("), p.linesIterator.take(5).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    // column pruning: the routed scan must not read the heavy text-side
    // columns (conv_id/tool) — only role, logtype_id, vars survive
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema:")).mkString("\n")
    assert(!readSchemas.contains("conv_id"), readSchemas)
  }
}
