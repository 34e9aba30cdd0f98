package graft

import org.apache.spark.sql.catalyst.plans.logical._

/** Permanent form of the judge's manual plan audit: every entry in
  * [[SparkEntry.queries]] must plan free of the three scale-killer
  * shapes —
  *
  *   1. an UNPARTITIONED logical Window (funnels the whole input through
  *      one partition; the per-partition two-pass prefix sum or a
  *      broadcast scalar normalizer is always available instead);
  *   2. a logical cartesian Join (no join condition) where NEITHER side
  *      is provably at-most-one-row (single-row cross joins are the
  *      scalar-normalizer idiom — a broadcast of one aggregate row —
  *      and scale-safe by construction);
  *   3. a physical CartesianProductExec (belt-and-braces over 2: also
  *      catches a non-equi join that falls off the broadcast path).
  *
  * Anything else must sit in [[allowed]] with a documented reason, kept
  * deliberately tiny so each entry stays individually justified.
  */
class PlanGateSpec extends SparkSpec {

  /** The explicit allowlist. Keep ≤ 2 entries, each with its reason. */
  private val allowed: Map[String, String] = Map(
    // the documented exact-recall BASELINE for ANN: a bounded query set
    // (5 rows here; thousands at most in production) against the corpus
    // is a deliberate broadcast-side cross join — the brute-force path
    // the LSH/IVF indexes are measured against (q34/q51 recall)
    "q33_ann_topk_exact" -> "bounded query-set x corpus brute-force baseline",
    // q33's SQL-surface twin (exercises the native cosine_similarity
    // expression through spark.sql): same deliberate bounded CROSS JOIN
    "q75_sql_cosine_topk" -> "SQL twin of the q33 brute-force baseline"
  )

  /** Row-non-increasing unary chains over a global aggregate (or literal
    * single row) prove an at-most-one-row side. Generate/Expand stop the
    * recursion — they can multiply rows.
    */
  private def atMostOneRow(p: LogicalPlan): Boolean = p match {
    case a: Aggregate       => a.groupingExpressions.isEmpty
    case _: OneRowRelation  => true
    case l: LocalRelation   => l.data.lengthCompare(1) <= 0
    case p: Project         => atMostOneRow(p.child)
    case f: Filter          => atMostOneRow(f.child)
    case s: SubqueryAlias   => atMostOneRow(s.child)
    case h: ResolvedHint    => atMostOneRow(h.child)
    case s: Sort            => atMostOneRow(s.child)
    case g: GlobalLimit =>
      (g.limitExpr match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
          v <= 1
        case _ => false
      }) || atMostOneRow(g.child)
    case l: LocalLimit      => atMostOneRow(l.child)
    case _                  => false
  }

  private def offenses(name: String,
      df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val logical = df.queryExecution.optimizedPlan
    val fromLogical = logical.collect {
      case w: Window if w.partitionSpec.isEmpty =>
        "unpartitioned-window"
      case j: Join if j.condition.isEmpty &&
          !atMostOneRow(j.left) && !atMostOneRow(j.right) =>
        "cartesian-join"
    }
    val physical = df.queryExecution.executedPlan.toString()
    val fromPhysical =
      if (physical.contains("CartesianProduct")) Seq("CartesianProductExec")
      else Nil
    (fromLogical ++ fromPhysical).distinct
  }

  test("no query plans a scale-killer shape outside the allowlist") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val found = offenses(name, fn(spark, SparkSpec.sfDir))
        if (found.isEmpty || allowed.contains(name)) Nil
        else Seq(s"$name: ${found.mkString(", ")}")
    }
    withClue(s"scale-killer plan shapes (add to allowlist ONLY with a " +
      s"documented reason):\n${bad.mkString("\n")}\n") {
      bad shouldBe empty
    }
  }

  test("allowlist entries are still live (no stale exemptions)") {
    allowed.keys.foreach { name =>
      assert(SparkEntry.queries.contains(name),
        s"allowlisted $name no longer exists — remove the exemption")
      val found = offenses(name, SparkEntry.queries(name)(
        spark, SparkSpec.sfDir))
      assert(found.nonEmpty,
        s"allowlisted $name no longer plans the exempted shape — " +
          "remove the exemption")
    }
  }
}
