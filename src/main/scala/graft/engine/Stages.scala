package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Reusable column-building stages, mirroring the reference's projection
  * surface (SURVEY.md §2.3–2.4; reference `src/spark_streaming.py:91-114`,
  * `:157-169`, `:199-214`).
  *
  * Everything here is a pure `Column`/`DataFrame` combinator so that batch
  * and Structured Streaming pipelines share the exact same code — Spark's
  * unified API makes an operator written this way run incrementally with no
  * changes. All expressions stay inside whole-stage codegen (built-in
  * functions only, no UDFs).
  */
object Stages {

  /** P4 (reference `spark_streaming.py:92-111`): empty-string → NULL, then
    * cast, then rename. The cast is try_cast: the reference runs
    * non-ANSI Spark, where a malformed non-empty value ('N/A', a bad
    * timestamp) casts to NULL — under this build's ANSI default a plain
    * cast would instead throw CAST_INVALID_INPUT, and in the streaming
    * fan-out that one dirty record poison-pills every restart from the
    * checkpointed offset. try_cast IS the reference's NULL semantics.
    */
  def nullNormCast(c: Column, t: DataType, as: String): Column =
    when(c === lit(""), lit(null)).otherwise(c.try_cast(t)).as(as)

  /** Empty-string → NULL without a cast (string columns). */
  def nullNorm(c: Column, as: String): Column =
    when(c === lit(""), lit(null)).otherwise(c).as(as)

  /** F1 (reference `spark_streaming.py:162`): range-violation predicate. */
  def rangeViolation(c: Column, lo: Double, hi: Double): Column =
    c < lo || c > hi

  /** F2 (reference `spark_streaming.py:207`): discrepancy-or-null predicate
    * — `abs(actual - calculated) > threshold OR actual IS NULL`.
    */
  def discrepancyOrNull(actual: Column, calculated: Column, threshold: Double): Column =
    abs(actual - calculated) > threshold || actual.isNull

  // ---- cross-engine deterministic money arithmetic -----------------------
  //
  // `round(avg(double), 2)` is NOT portable: when the true average lands on
  // an exact cent midpoint (easy with 2-decimal money — e.g. avg(5.31, 5.32)
  // = 5.315) the result depends on each engine's float summation order and
  // rounding mode. We instead compute in integer cents with explicit
  // half-up rounding; the SAME SQL fragment is used verbatim for the Spark
  // aggregation (via `expr`) and for the DuckDB oracle, so both engines run
  // textually identical integer arithmetic. Exact while sums stay below
  // 2^53 cents (~90 trillion dollars); past that a DECIMAL(38) sum is the
  // cluster-scale follow-up.

  /** SQL fragment: value column → integer cents (values have 2 decimals, so
    * this is exact).
    */
  def centsSql(valueExpr: String): String =
    s"CAST(round(($valueExpr) * 100) AS BIGINT)"

  /** SQL fragment: lineitem revenue in hundredth-cent units —
    * cents(l_extendedprice) · (100 − discount%), exact BIGINT. The ONE
    * spelling of the money expression the cross-engine exactness
    * contract rides on (previously copied verbatim in four places:
    * Relational×3 and TpcH — a precision follow-up applied to one copy
    * would have silently missed the others).
    */
  val lineitemRevUnitsSql: String =
    s"${centsSql("l_extendedprice")} * (100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** SQL fragment: average of integer-cents expr, rounded HALF_UP
    * (half away from zero, BigDecimal.RoundingMode.HALF_UP) to a whole
    * cent, returned as dollars (double). For s ≥ 0,
    * `trunc((2s + n) / (2n))` is half-up of `s/n`; for s < 0 the
    * numerator offset must flip sign (`2s − n`) because `%`/division
    * truncate toward zero on both engines — with the unconditional `+n`
    * offset a NEGATIVE average rounded toward zero (cents sum −2 over 3
    * rows: HALF_UP of −0.667 is −1 cent, the old spelling said 0).
    * Expressed in integer arithmetic so the final division is exact in
    * IEEE double on both engines; the fragment is one shared text, so
    * Spark and the DuckDB oracle stay bit-identical by construction.
    * NULL when no rows qualify.
    */
  def halfUpAvgDollarsSql(cents: String): String = {
    val num = s"(2 * sum($cents)" +
      s" + (CASE WHEN sum($cents) >= 0 THEN count($cents) ELSE -count($cents) END))"
    val den = s"(2 * count($cents))"
    s"CASE WHEN count($cents) > 0 THEN (($num - $num % $den) / $den) / 100.0 END"
  }

  /** Convenience: conditional cents expr (`CASE WHEN cond THEN cents END`). */
  def centsWhenSql(cond: String, valueExpr: String): String =
    s"CASE WHEN $cond THEN ${centsSql(valueExpr)} END"

  /** SQL fragment: `num · 100 / den` rounded HALF_UP (away from zero) to
    * 2 decimals in EXACT integer arithmetic, returned as double — the
    * row-wise sibling of [[halfUpAvgDollarsSql]] for `round(a/b, 2)`
    * projections over integer inputs. Plain `round(x, 2)` on the double
    * quotient splits engines at hundredth midpoints (Spark rounds the
    * shortest decimal repr via BigDecimal HALF_UP, DuckDB rounds the
    * scaled double), and the reference's own `round` IS Spark's — so the
    * exact spelling is also the parity-faithful value. Sign-aware offset
    * because `%`/division truncate toward zero (see halfUpAvgDollarsSql).
    */
  def halfUpCentiSql(num: String, den: Long): String = {
    require(den > 0, s"halfUpCentiSql needs a positive denominator, got $den")
    val n2 = s"(200 * ($num) + (CASE WHEN ($num) >= 0 THEN $den ELSE -$den END))"
    val d2 = s"(2 * $den)"
    s"((($n2 - $n2 % $d2) / $d2) / 100.0)"
  }

  /** Cofactor expansion of a 3×3 determinant |a b c; d e f; g h i| over
    * nine SQL sub-expressions. One fixed IEEE expression tree, shared
    * TEXTUALLY between the Spark plan and the DuckDB oracle (the
    * closed-form ridge solve) so the double arithmetic is bit-identical.
    */
  def det3Sql(
      a: String, b: String, c: String,
      d: String, e: String, f: String,
      g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"

  /** Closed-form moment statistics from exact integer sufficient
    * statistics `n, sx, sy, sxy, sxx, syy` (column names fixed): mean,
    * population variance/stddev/covariance and Pearson correlation. Every
    * fragment is a fixed IEEE expression tree over exactly-represented
    * integers (each < 2^53), and `+ − × / sqrt` are all correctly-rounded
    * IEEE ops — so ANY engine evaluating this text produces bit-identical
    * doubles, unlike built-in `corr`/`covar` whose double accumulation
    * varies with partition order. Ordered (name → SQL) pairs; the SAME
    * text runs in Spark `expr` and the DuckDB oracle.
    */
  /** Closed-form z-score from exact integer moments (column names fixed:
    * `n, sx, sxx` per group, `x` per row): (x − sx/n)/sqrt(sxx/n −
    * (sx/n)²). Divisions come FIRST — the algebraically equal product
    * form n·sxx − sx² overflows BIGINT once n·sxx passes 2⁶³ (≈600k rows
    * of 5-digit values) — and zero/negative variance yields NULL via a
    * lazy CASE. A fixed IEEE expression tree over exact integers: the
    * SAME text runs in Spark `expr` and the DuckDB oracle.
    */
  val zscoreSql: String = {
    val (n, sx, sxx) = ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sxx AS DOUBLE)")
    val variance = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    s"CASE WHEN $variance <= 0 THEN NULL ELSE (CAST(x AS DOUBLE) - $sx / $n) / sqrt($variance) END"
  }

  val momentStatsSql: Seq[(String, String)] = {
    val (n, sx, sy, sxy, sxx, syy) =
      ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
        "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val varX = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    val varY = s"($syy / $n - ($sy / $n) * ($sy / $n))"
    val covar = s"($sxy / $n - ($sx / $n) * ($sy / $n))"
    Seq(
      "mean_x" -> s"$sx / $n",
      "mean_y" -> s"$sy / $n",
      "stddev_pop_x" -> s"sqrt($varX)",
      "stddev_pop_y" -> s"sqrt($varY)",
      "covar_pop" -> covar,
      // zero-variance groups (n=1, or a constant x or y) have undefined
      // correlation: NULL via a lazy CASE, never a 0/0 division — ANSI
      // Spark throws DIVIDE_BY_ZERO on doubles where DuckDB yields NaN
      "corr_xy" -> s"CASE WHEN $varX * $varY = 0 THEN NULL ELSE $covar / sqrt($varX * $varY) END")
  }

  /** CUPED fragments over the same `n, sx, sy, sxy, sxx, syy` sufficient
    * statistics (x = pre-period covariate, y = post-period metric):
    * θ = cov/var(x) — the adjustment coefficient — and the variance
    * reduction ratio corr², both as the same fixed IEEE expression text
    * on either engine; degenerate variances yield NULL.
    */
  val cupedSql: Seq[(String, String)] = {
    val (n, sx, sy, sxy, sxx, syy) =
      ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
        "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val varX = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    val varY = s"($syy / $n - ($sy / $n) * ($sy / $n))"
    val covar = s"($sxy / $n - ($sx / $n) * ($sy / $n))"
    Seq(
      "theta" -> s"CASE WHEN $varX = 0 THEN NULL ELSE $covar / $varX END",
      "var_reduction" ->
        s"""CASE WHEN $varX * $varY = 0 THEN NULL
            ELSE ($covar / sqrt($varX * $varY)) * ($covar / sqrt($varX * $varY)) END""")
  }

  /** Ordinary-least-squares line fit from the same exact integer
    * sufficient statistics as [[momentStatsSql]] (column names fixed:
    * `n, sx, sy, sxy, sxx, syy`): slope = cov/var(x), intercept =
    * ȳ − slope·x̄, r² = cov²/(var(x)·var(y)). Divisions come first (the
    * /n mean form, never n·sxy − sx·sy, which overflows BIGINT at scale);
    * zero-variance groups yield NULL via a lazy CASE. Fixed IEEE
    * expression trees over exact integers — the SAME text runs in Spark
    * `expr` and the DuckDB oracle, so the doubles are bit-identical.
    */
  val linregSql: Seq[(String, String)] = {
    // n rides nullif: an EMPTY side (0-row train fold, empty corpus)
    // makes the CASE *condition* itself 0/0 before the varX guard can
    // fire — under ANSI that throws (r10 degenerate probe); shared text
    val (n, sx, sy, sxy, sxx, syy) =
      ("nullif(CAST(n AS DOUBLE), 0.0E0)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
        "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val varX = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    val varY = s"($syy / $n - ($sy / $n) * ($sy / $n))"
    val covar = s"($sxy / $n - ($sx / $n) * ($sy / $n))"
    val slope = s"($covar / $varX)"
    Seq(
      "slope" -> s"CASE WHEN $varX = 0 THEN NULL ELSE $slope END",
      "intercept" -> s"CASE WHEN $varX = 0 THEN NULL ELSE $sy / $n - $slope * ($sx / $n) END",
      "r2" -> s"CASE WHEN $varX * $varY = 0 THEN NULL ELSE ($covar * $covar) / ($varX * $varY) END")
  }

  /** Wilson score lower bound for a binomial proportion (columns `c`
    * successes, `n` trials; z = 1.96): the uncertainty-corrected rate
    * that ranks 3/3 below 80/100 — the standard fix for sorting by raw
    * success ratios. Division, multiplication and sqrt over exactly-
    * represented integers: one fixed IEEE tree, same text on both
    * engines, bit-identical results.
    */
  val wilsonLowerSql: String = {
    val (n, c) = ("CAST(n AS DOUBLE)", "CAST(c AS DOUBLE)")
    val p = s"($c / $n)"
    val z2 = "(1.96 * 1.96)"
    s"""CASE WHEN n = 0 THEN NULL ELSE
        ($p + $z2 / (2 * $n)
         - 1.96 * sqrt($p * (1 - $p) / $n + $z2 / (4 * $n * $n)))
        / (1 + $z2 / $n) END"""
  }

  /** Morton (Z-order) interleave of two non-negative integer columns
    * (`bits` low bits each → a 2·bits-bit key): the space-filling-curve
    * clustering key behind Z-ORDER data layout — rows sorted by this key
    * keep BOTH dimensions locally dense, so min/max file statistics
    * prune on either predicate. Pure integer shifts and masks, one
    * fixed expression text for Spark `expr` and the DuckDB oracle.
    */
  def mortonSql(xCol: String, yCol: String, bits: Int): String =
    (0 until bits)
      .map(i =>
        s"((($xCol >> $i) & 1) << ${2 * i}) + ((($yCol >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")

  /** Per-row OLS residual and the model-based outlier predicate, from
    * the same exact integer sufficient statistics as [[linregSql]]
    * (columns `n, sx, sy, sxy, sxx, syy` joined onto each fact row's
    * `x, y`): resid = y − (slope·x + intercept), flagged when |resid|
    * exceeds `mult`·rmse with rmse² = var(y) − cov²/var(x) (the exact
    * in-sample mse of the fitted line). Fixed IEEE trees over exact
    * integers — the SAME text runs in Spark `expr` and the DuckDB
    * oracle, so the filter boundary is bit-identical.
    */
  val residualSql: String = {
    // nullif(n): see linregSql — the n = 0 empty-side case
    val (n, sx, sy, sxy, sxx) =
      ("nullif(CAST(n AS DOUBLE), 0.0E0)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
        "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)")
    val varX = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    val covar = s"($sxy / $n - ($sx / $n) * ($sy / $n))"
    val slope = s"($covar / $varX)"
    // NULL when var(x) = 0 (single-row or all-tied group: no line to
    // fit) — the linregSql lazy-CASE convention; unguarded, Spark ANSI
    // throws DIVIDE_BY_ZERO on the slope where DuckDB yields NaN
    s"""CASE WHEN $varX = 0 THEN NULL
        ELSE (CAST(y AS DOUBLE) - ($slope * CAST(x AS DOUBLE) + $sy / $n - $slope * ($sx / $n)))
        END"""
  }

  def residualOutlierCondSql(mult: String): String = {
    val (n, sx, sy, sxy, sxx, syy) =
      ("CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)",
        "CAST(sxy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val varX = s"($sxx / $n - ($sx / $n) * ($sx / $n))"
    val varY = s"($syy / $n - ($sy / $n) * ($sy / $n))"
    val covar = s"($sxy / $n - ($sx / $n) * ($sy / $n))"
    // NULL on a zero-variance group (filter treats it as false — a
    // degenerate group flags no outliers); same rationale as residualSql
    s"""CASE WHEN $varX = 0 THEN NULL
        ELSE abs($residualSql) > $mult * sqrt($varY - $covar * $covar / $varX)
        END"""
  }

  /** Two-proportion pooled z-statistic over integer counts
    * (n1, c1, n2, c2): every operand reaches binary64 exactly, and
    * division, multiplication, and sqrt are all correctly rounded IEEE
    * ops — so the SAME expression tree (same text on both engines)
    * produces bit-identical z on any engine. (`ln`-based stats can't
    * make this promise; sqrt can.)
    */
  val abTestZSql: String = {
    val p1 = "(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    val p2 = "(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    val pp = "(CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    // degenerate pools (nobody or everybody converted) have zero pooled
    // variance: NULL via a lazy INTEGER-condition CASE — ANSI Spark
    // throws DIVIDE_BY_ZERO on doubles where DuckDB yields ±inf
    s"""CASE WHEN c1 + c2 = 0 OR c1 + c2 = n1 + n2 THEN NULL
        ELSE ($p1 - $p2) / sqrt($pp * (1 - $pp) * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
        END"""
  }
}
