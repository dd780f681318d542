package graft

import org.apache.spark.sql.catalyst.expressions.{ArraySort, Ascending, NullsFirst, SortArray, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort, Window}
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Registry-wide null-ordering census: every NULLS-FIRST ordering
  * over a NULLABLE expression in the registry's analyzed plans — the
  * engine-asymmetry class the heavy/heavyprice/heavytie fixtures
  * exhibit. Spark's defaults are asc = NULLS FIRST, desc = NULLS
  * LAST; DuckDB's default is NULLS LAST in BOTH directions, so the
  * asymmetric sites are ascending orderings (Spark's default) and any
  * explicit `desc_nulls_first` pin. Window orderings drive cumulations
  * and picks (the dangerous sites); bare Sort orderings are listed too
  * but only matter when a downstream limit/fold is value-sensitive.
  *
  * The census is a RATCHET: the triaged-allowlist test in
  * [[graft.PlanAuditSpec]] replays [[asymmetricHits]] and
  * [[exprSortHits]] over the registry each build and demands an exact
  * match with a triage-annotated allowlist, so a new query with an
  * untriaged nullable ordering site fails the suite until it is
  * pinned (`asc_nulls_last`), convention-filtered, or triaged onto
  * the list. This main prints the same hits for a manual triage.
  *
  * Usage: java -cp <classes>:<spark jars> graft.NullOrderCensus [sfDir]
  */
object NullOrderCensus {

  /** Every engine-asymmetric ordering site in one analyzed plan, as
    * stable census lines: `WINDOW|SORT ASC|DESC_NULLS_FIRST <expr
    * sql, 90 chars>`. Attribute sql carries no expr-ids, so lines are
    * stable across runs and usable as allowlist keys.
    */
  def asymmetricHits(plan: LogicalPlan): Seq[String] = {
    def collect(site: String, orders: Seq[SortOrder]): Seq[String] =
      orders.collect {
        case so if so.nullOrdering == NullsFirst && so.child.nullable =>
          val dir =
            if (so.direction == Ascending) "ASC" else "DESC_NULLS_FIRST"
          s"$site $dir ${so.child.sql.take(90)}"
      }
    plan.collect {
      case w: Window => collect("WINDOW", w.orderSpec)
      case s: Sort => collect("SORT", s.order)
    }.flatten.distinct
  }

  /** EXPRESSION-level orderings, which plan no Sort/Window node (q27's
    * NULL-month EMA seed sorts inside `array_sort`): every
    * `sort_array` / `array_sort` whose element type can carry a NULL
    * — a nullable struct field (the struct comparator orders a NULL
    * field FIRST ascending, like any Spark asc ordering, vs the
    * DuckDB twins' relational nulls-last) or a nullable element.
    * `collect_list`/`collect_set` never emit null ELEMENTS
    * (containsNull=false — and collect_set additionally drops null
    * INPUTS), so in practice the trigger is struct-FIELD nullability.
    * Lines: `EXPR SORT_ARRAY|ARRAY_SORT <element catalogString>`.
    */
  def exprSortHits(plan: LogicalPlan): Seq[String] = {
    // Recurses: a nullable field buried one struct level deeper
    // (struct<a:struct<b:nullable>>) still steers the struct
    // comparator, so it must not be invisible to the ratchet.
    def anyNullableInside(d: org.apache.spark.sql.types.DataType): Boolean =
      d match {
        case st: StructType =>
          st.exists(f => f.nullable || anyNullableInside(f.dataType))
        case ArrayType(et, cn) => cn || anyNullableInside(et)
        case _ => false
      }
    def nullableElement(dt: org.apache.spark.sql.types.DataType,
                        containsNull: Boolean): Boolean =
      containsNull || anyNullableInside(dt)
    plan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case s: SortArray => ("SORT_ARRAY", s.base.dataType)
        case s: ArraySort => ("ARRAY_SORT", s.argument.dataType)
      })
    }.flatten.collect {
      case (tag, ArrayType(et, cn)) if nullableElement(et, cn) =>
        s"EXPR $tag ${et.catalogString.take(90)}"
    }.distinct
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.session()
    BenchSets.census.foreach { name =>
      try {
        val plan: LogicalPlan =
          SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed
        (asymmetricHits(plan) ++ exprSortHits(plan))
          .foreach(h => println(s"$name\t$h"))
      } catch {
        case t: Throwable =>
          println(s"$name\tERROR ${t.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
