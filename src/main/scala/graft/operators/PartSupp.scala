package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The fixture has no partsupp table, so the five TPC-H shapes that
  * need one (Q2/Q9/Q11/Q16/Q20, q368–q372) run over a SURROGATE
  * derived deterministically from lineitem — the same adaptation
  * discipline as q360's priority exclusion and q362's nation-key
  * prefix: keep the query SHAPE, re-ground the missing column in what
  * the fixture has.
  *
  *   partsupp := per distinct (l_partkey, l_suppkey):
  *     ps_availqty   = Σ l_quantity        (integral in the fixture,
  *                                          so the BIGINT cast is exact)
  *     ps_cost_cents = min round(l_extendedprice·100)  (exact cents,
  *                                          q362's money idiom)
  *
  * Both aggregates are order-free exact integers, so the DuckDB twin
  * (the same GROUP BY in every consumer's oracle) is bit-identical.
  *
  * The table is STAGED once per fixture dir (see [[graft.Stage]]):
  * five consumers would otherwise re-run the same
  * map-side-combinable rollup over lineitem five times per
  * Verify/Bench run. At 100 TB partsupp is a real ingested table and
  * this build is its one-time derivation job; consumers scan it
  * columnar, and the (ps_partkey, ps_suppkey) grain makes the Q9
  * fact-fact join a co-partitionable equi-join.
  */
object PartSupp {

  def partsupp(s: SparkSession, d: String): DataFrame =
    graft.Stage.parquet(s, "partsupp_", d)(Tables.lineitem(s, d)
      .groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(sum(col("l_quantity")).cast("bigint").as("ps_availqty"),
        min(expr("cast(round(l_extendedprice * 100, 0) as bigint)"))
          .as("ps_cost_cents")))

  /** The shared SQL twin — spliced as a CTE into every consumer's
    * oracle so the surrogate is defined ONCE on both engines.
    */
  val psSql: String =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(SUM(l_quantity) AS BIGINT) AS ps_availqty,
      |    MIN(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
      |      AS ps_cost_cents
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** EUROPE suppliers with their nation — the broadcast dimension leg
    * q368/q369/q370 share (supplier⋈nation⋈region is dimension-sized
    * at any scale).
    */
  def europeSuppliers(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d)
      .join(Tables.nation(s, d),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
}
