package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.plans.PartialAggPushdown

/** PartialAggPushdown: the rewrite must change the PLAN (pre-aggregate
  * below the join) without ever changing the ANSWER, and must refuse
  * every shape it cannot prove safe.
  */
class OptimizerRuleSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def forced[T](f: => T): T = {
    spark.conf.set("spark.graft.aggPushdown.force", "true")
    try f finally spark.conf.unset("spark.graft.aggPushdown.force")
  }

  private def disabled[T](f: => T): T = {
    spark.conf.set("spark.graft.aggPushdown.enabled", "false")
    try f finally spark.conf.unset("spark.graft.aggPushdown.enabled")
  }

  private def hasAggBelowJoin(df: DataFrame): Boolean =
    PartialAggPushdown.pushedBelowJoin(df.queryExecution.optimizedPlan)

  // exact-typed measures: the rule only pushes sums over integral/decimal
  private lazy val fact = spark.range(0, 10000).select(
    (col("id") % 100).as("k"),
    (col("id") % 7).as("v"),
    col("id").as("i"))
  private lazy val dim = spark.range(0, 100).select(
    col("id").as("k"),
    concat(lit("g"), col("id") % 5).as("grp"))

  private def query(): DataFrame =
    fact.join(dim, "k").groupBy("grp").agg(
      sum("v").as("sv"),
      count(lit(1)).as("cnt"),
      count("i").as("cnt_i"),
      min("i").as("mn"),
      max("v").as("mx"))

  test("pushes sum/count/min/max below the join; answers unchanged") {
    // the rule under test is the one GraftExtensions injects into every
    // session, not a suite-local experimental append
    spark.experimental.extraOptimizations shouldBe empty
    spark.sessionState.optimizer.batches.flatMap(_.rules) should
      contain(PartialAggPushdown)
    val (plan, pushed) = forced {
      (hasAggBelowJoin(query()), query().collect().toSet)
    }
    plan shouldBe true
    val baseline = disabled {
      hasAggBelowJoin(query()) shouldBe false
      query().collect().toSet
    }
    pushed shouldBe baseline
  }

  test("decimal sums keep their exact type and value through the rewrite") {
    def q(): DataFrame =
      fact.withColumn("d", col("v").cast("decimal(12,2)"))
        .join(dim, "k").groupBy("grp")
        .agg(sum("d").as("sd"))
    val (schemaF, rowsF) = forced {
      hasAggBelowJoin(q()) shouldBe true
      (q().schema, q().collect().toSet)
    }
    val (schemaD, rowsD) = disabled { (q().schema, q().collect().toSet) }
    schemaF shouldBe schemaD
    rowsF shouldBe rowsD
  }

  test("count composition is exact when left rows multiply join matches") {
    // duplicate join keys on BOTH sides: 3 left rows x 2 fact rows per key
    val l = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "b"))
      .toDF("k", "grp")
    val f = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L))
      .toDF("k", "v")
    def q(): DataFrame =
      l.join(f, "k").groupBy("grp")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
    val pushed = forced {
      hasAggBelowJoin(q()) shouldBe true
      q().collect().toSet
    }
    pushed shouldBe disabled(q().collect().toSet)
    // grp=a: 2 left rows x key-1 fact (30, 2) => sv 60, cnt 4
    q().filter($"grp" === "a").collect().head.getLong(1) shouldBe 60L
  }

  test("refuses shapes it cannot prove safe") {
    forced {
      // outer join
      hasAggBelowJoin(
        fact.join(dim, Seq("k"), "left")
          .groupBy("grp").agg(sum("v"))) shouldBe false
      // distinct aggregate
      hasAggBelowJoin(
        fact.join(dim, "k")
          .groupBy("grp").agg(countDistinct("v"))) shouldBe false
      // group key on the fact side
      hasAggBelowJoin(
        fact.join(dim, "k")
          .groupBy("i").agg(sum("v"))) shouldBe false
      // aggregate inputs straddle both sides
      hasAggBelowJoin(
        fact.join(dim.withColumn("w", col("k") + 1), "k")
          .groupBy("grp").agg(sum(col("v") * col("w")))) shouldBe false
      // unsupported function (avg would re-associate double sums)
      hasAggBelowJoin(
        fact.join(dim, "k")
          .groupBy("grp").agg(avg("v"))) shouldBe false
      // floating-point sum: re-association would drift low-order bits
      hasAggBelowJoin(
        fact.join(dim, "k")
          .groupBy("grp").agg(sum(col("v").cast("double")))) shouldBe false
    }
  }

  test("respects hand-pre-aggregated inputs (no double pushdown, stable plan)") {
    forced {
      val pre = fact.groupBy("k").agg(sum("v").as("pv"))
      val df = pre.join(dim, "k").groupBy("grp").agg(sum("pv").as("s"))
      // already aggregated by the join key: the rule must leave it alone
      val aggs = df.queryExecution.optimizedPlan.collect {
        case a: Aggregate => a
      }
      aggs.size shouldBe 2 // the hand-written pre-agg + the final agg only
    }
  }

  test("multi-key equi-join pushdown keeps answers exact") {
    val f2 = spark.range(0, 5000).select(
      (col("id") % 20).as("k1"), (col("id") % 3).as("k2"),
      (col("id") % 11).as("v"))
    val d2 = spark.range(0, 60).select(
      (col("id") % 20).as("k1"), (col("id") % 3).as("k2"),
      concat(lit("g"), col("id") % 4).as("grp"))
    def q(): DataFrame =
      f2.join(d2, Seq("k1", "k2")).groupBy("grp")
        .agg(sum("v").as("sv"), count(lit(1)).as("cnt"))
    val pushed = forced {
      hasAggBelowJoin(q()) shouldBe true
      q().collect().toSet
    }
    pushed shouldBe disabled(q().collect().toSet)
  }

  test("fires naturally (no force) when broadcasts are disabled") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // threshold < 0 = no broadcast possible, the join must shuffle:
      // exactly the regime where the pushdown is free — the rule should
      // engage on stats alone
      hasAggBelowJoin(query()) shouldBe true
      query().collect().toSet shouldBe disabled(query().collect().toSet)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("stats gate: does not fire when a side is broadcast-small") {
    // no force: both inputs are tiny in-memory relations, far below the
    // broadcast threshold, so the join will broadcast and pushing would
    // add a shuffle — the rule must stay out
    hasAggBelowJoin(query()) shouldBe false
  }

  test("engine query under the rule: revenueByBrand answers unchanged") {
    val (pushedRows, planHadPush) = forced {
      val df = Relational.revenueByBrand(tables.lineitem, tables.part)
        .orderBy("p_brand")
      (df.collect().toSeq, hasAggBelowJoin(df))
    }
    planHadPush shouldBe true
    val baseline = disabled {
      Relational.revenueByBrand(tables.lineitem, tables.part)
        .orderBy("p_brand").collect().toSeq
    }
    pushedRows shouldBe baseline
  }
}
