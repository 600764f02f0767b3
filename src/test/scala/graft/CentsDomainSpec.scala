package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Dec.{cents2, dec2}
import graft.sources.Tables

/** The integer-cents DOMAIN TRIPWIRE (r16 verdict items 2-3 / r17 item 7).
  *
  * The r16 cents rewrite (`Dec.cents2` = floor(x·100+0.5) long cents in
  * place of the decimal(18,2) cast) rests on two corpus properties that
  * were AUDITED once but, until this spec, enforced nowhere — and the
  * corpus regenerates every round, so a regeneration that breaks either
  * precondition must fail HERE at test time, not at oracle-gate time:
  *
  *  1. NON-NEGATIVITY + HALF_UP equivalence. floor(x·100+0.5) matches
  *     the decimal cast's string-based HALF_UP for the audited
  *     non-negative money columns; it diverges on negative exact
  *     half-cents (floor rounds toward +∞, HALF_UP away from zero) and
  *     on doubles whose shortest decimal representation rounds the
  *     other way across a half-cent. The per-column equivalence count
  *     below IS the r16 audit, run standing.
  *  2. BOUNDED MAGNITUDE. Plain LONG sums (revenueL-class) are exact
  *     only while group sums stay far under 2^63, and `outCents`'s
  *     double(S)/10^s emission is single-rounding-exact only while
  *     |S| < 2^53. Both bounds were argued from audited per-row value
  *     domains (events.value ≤ ~600, money columns ≤ ~10^7); a corpus
  *     regeneration with a wider domain would overflow/double-round
  *     SILENTLY (long sums wrap without error).
  *
  * Columns that can legitimately be negative (c_acctbal, s_acctbal)
  * stay on the dec2 path in the operators — they are deliberately NOT
  * admitted here.
  */
class CentsDomainSpec extends SparkTestBase {

  /** cents2 vs the authoritative decimal-cast rounding, as a count of
    * disagreeing rows — the r16 audit's exact predicate.
    */
  private def mismatches(df: DataFrame, c: Column): Long =
    df.filter(c.isNotNull &&
        cents2(c) =!= (dec2(c) * 100).cast("bigint"))
      .count()

  private def checkMoneyColumn(df: DataFrame, name: String,
      maxAbs: Double): Unit = {
    assert(df.count() > 0L,
      s"$name: the table is empty, so the money-domain audit has nothing " +
        "to check — the corpus (or its reader) is broken, not the domain")
    val nNull = df.filter(col(name).isNull).count()
    assert(nNull === 0L,
      s"$name has $nNull NULLs: the non-null money precondition is " +
        "broken — agg_equidepth's histogram build (and the rank " +
        "semantics of every cents aggregate) assumes none")
    val stats = df.agg(
      min(col(name)).as("mn"), max(col(name)).as("mx")).collect()(0)
    val (mn, mx) = (stats.getDouble(0), stats.getDouble(1))
    assert(mn >= 0.0,
      s"$name has negative values (min=$mn): the cents2 non-negativity " +
        "precondition is broken — route this column through dec2, or " +
        "re-audit (see Dec.cents2 scaladoc)")
    assert(mx <= maxAbs,
      s"$name exceeds the audited magnitude bound $maxAbs (max=$mx): " +
        "re-derive the revenueL/outCents sum-headroom arguments " +
        "(Tpch.revenueL scaladoc) before trusting LONG sums")
    assert(mismatches(df, col(name)) === 0L,
      s"$name: cents2 (floor(x*100+0.5)) disagrees with the decimal " +
        "HALF_UP cast on this corpus — the fast rounding is no longer " +
        "value-identical; the affected operators must go back to dec2")
  }

  // ---- the audited per-row value domains (r16 audit, now standing) ----
  // Bounds are deliberately loose (10x the observed corpus ranges) so
  // routine regeneration jitter passes while a domain CLASS change —
  // negatives, a 100x magnitude shift — fails loudly.

  test("lineitem money columns: non-negative, bounded, cents2 == dec2") {
    val li = Tables.lineitem(spark, sf)
    checkMoneyColumn(li, "l_quantity", 1e4)
    checkMoneyColumn(li, "l_extendedprice", 1e7)
    checkMoneyColumn(li, "l_discount", 1.0)
    checkMoneyColumn(li, "l_tax", 1.0)
  }

  test("orders/part money columns: non-negative, bounded, cents2 == dec2") {
    checkMoneyColumn(Tables.orders(spark, sf), "o_totalprice", 1e7)
    checkMoneyColumn(Tables.part(spark, sf), "p_retailprice", 1e6)
  }

  test("events.value: non-negative, bounded, cents2 == dec2") {
    // <= ~600 observed; 1e4 bound keeps the global-sum headroom
    // argument intact with >100x margin at 100 TB row counts
    checkMoneyColumn(Tables.events(spark, sf), "value", 1e4)
  }

  test("tpch_q9's derived unit-cost product stays on HALF_UP (rev_safe)") {
    // the one cents site on a DERIVED double product (ADVICE r16): the
    // operator uses the decimal-cast rev_safe form, and this pin checks
    // the derived-product domain stays non-negative and bounded so the
    // surrounding long arithmetic keeps its headroom
    val prod = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf),
        col("l_partkey") === col("p_partkey"))
      .select((col("p_retailprice") * col("l_quantity") * lit(0.1))
        .as("unit_cost"))
    val mx = prod.agg(max(col("unit_cost"))).collect()(0).getDouble(0)
    val mn = prod.agg(min(col("unit_cost"))).collect()(0).getDouble(0)
    assert(mn >= 0.0 && mx <= 1e9,
      s"q9 unit-cost product out of audited domain [0, 1e9]: [$mn, $mx]")
  }

  test("the tripwire itself is RED on an out-of-domain column") {
    // synthetic negatives INCLUDING an exact half-cent: -0.005 rounds
    // to -1 cents under floor(x*100+0.5) = floor(0.0) = 0 vs HALF_UP's
    // -1 — the check must catch the class, not just the sign bit
    val s2 = spark
    import s2.implicits._
    val bad = Seq(-0.005, 1.0, 2.5).toDF("v")
    val negs = bad.agg(min(col("v"))).collect()(0).getDouble(0)
    assert(negs < 0.0) // sanity: the synthetic column IS out of domain
    assert(mismatches(bad, col("v")) > 0L,
      "the cents2-vs-dec2 mismatch counter failed to flag a negative " +
        "exact half-cent — the tripwire is blind")
  }
}
