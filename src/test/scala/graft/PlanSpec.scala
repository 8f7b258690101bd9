package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, count, lit}

/** Plan-shape assertions: the promises that matter at 100 TB — pushdown,
  * pruning, broadcast joins, no cartesian products — verified against the
  * actual physical plans, not hoped for. */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df = Queries.all(name)(spark, sf0001)
    df.collect() // finalize AQE so the inspected plan is the executed one
    df.queryExecution.executedPlan.toString
  }

  test("s1: filter and projection are pushed to the parquet scan") {
    val p = planOf("s1_scan_prune")
    assert(p.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,100.0)]"), p)
    assert(p.contains("ReadSchema") &&
      !p.contains("c_mktsegment"), "projection should prune unused columns\n" + p)
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // a selective dim-side filter should inject a bloom filter on the fact
    // scan when the join shuffles — the runtime-filter story for fact-fact
    // joins whose selective side is too big to broadcast at 100 TB
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf0001)
      val o = Tables.orders(spark, sf0001).filter(col("o_totalprice") > 400000)
      val joined = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("e1: dimension joins are broadcast, not shuffled") {
    val p = planOf("e1_users_pipeline")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q1: aggregation is partial (map-side combine) before the exchange") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), "expected partial_* map-side aggregation\n" + p)
  }

  test("d4: inverted-index join plans without a cartesian product") {
    val p = planOf("d4_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scalar suite stays inside whole-stage codegen") {
    val p = planOf("c1_scalar_suite")
    // codegen'd operators print as "*(n) Op" in the compact plan string
    assert("""\*\(\d+\) Project""".r.findFirstIn(p).isDefined, p)
  }

  test("every registered query has either an oracle or a documented skip") {
    // the raw pair/neighbor lists of approximate operators are rows-only
    // by design; each names a full-oracle gate twin in the registry
    val twins = Queries.registry.collect {
      case Queries.QueryDef(name, _, Queries.GateTwin(gate), _, _) => name -> gate
    }
    val unchecked = twins.filterNot { case (_, gate) =>
      Queries.all.contains(gate) && Queries.oracles.contains(gate)
    }
    assert(unchecked.isEmpty, s"gate twins that are not registered oracle queries: $unchecked")
    val oracleRows = Queries.registry.count(_.check.isInstanceOf[Queries.Oracle])
    assert((oracleRows, twins.size) == ((341, 12)), "oracle rows, rows-only rows")
  }

  test("oracle keys all reference registered queries") {
    // a duplicated name would silently collapse to one key of `all`/`oracles`
    val names = Queries.registry.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"names registered more than once: $dups")
    val orphans = Queries.oracles.keySet -- Queries.all.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }
}
