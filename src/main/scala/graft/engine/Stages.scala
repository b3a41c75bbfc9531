package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

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
    * this is exact). This object is the one place that spells the
    * fixed-point formats the cross-engine exactness contract rides on:
    * cents (this function), lineitem revenue units
    * ([[lineitemRevUnitsSql]]) and whole lineitem quantities
    * ([[lineitemQtySql]]). Every Spark builder and every DuckDB oracle
    * calls them; `Md5HashSourceSpec` fails on a hand-written copy
    * anywhere else.
    */
  def centsSql(valueExpr: String): String =
    s"CAST(round(($valueExpr) * 100) AS BIGINT)"

  /** SQL fragment: lineitem revenue in hundredth-cent units —
    * cents(l_extendedprice) · (100 − discount%), exact BIGINT.
    */
  val lineitemRevUnitsSql: String =
    s"${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})"

  /** SQL fragment: lineitem quantity as a whole number (BIGINT). */
  val lineitemQtySql: String = "CAST(round(l_quantity) AS BIGINT)"

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

  /** The `digits` hex digits of md5(`key`) from the 1-based position `from`,
    * as a non-negative BIGINT: the one Spark spelling of the row hash. `key`
    * is SQL text cast to a string; `from` is text, so a slice can start at a
    * column (`j * 8 + 1`). A NULL key gives NULL. */
  def md5BitsSql(key: String, from: String, digits: Int): String = {
    require(1 <= digits && digits <= 15, s"md5 slice of $digits hex digits is not a BIGINT")
    s"CAST(conv(substring(md5($key), $from, $digits), 16, 10) AS BIGINT)"
  }

  /** [[md5BitsSql]] for the DuckDB oracles; `||`, unlike `concat`, keeps a NULL key NULL. */
  def duckMd5BitsSql(key: String, from: String, digits: Int): String = {
    require(1 <= digits && digits <= 15, s"md5 slice of $digits hex digits is not a BIGINT")
    s"CAST(CAST('0x' || substring(md5($key), $from, $digits) AS UBIGINT) AS BIGINT)"
  }

  // ---- event time ----------------------------------------------------------

  /** Event-time bucket of the timestamp SQL text `c`, `width` seconds wide:
    * the one Spark spelling of epoch seconds (`width` 1, no division) and
    * of hour, day and week numbers (3600, 86400, 604800).
    *  - The seconds are floored: `CAST(c AS LONG)` rounds toward −∞, so
    *    `1969-12-31 23:59:59.999999` is −1, not 0.
    *  - The bucket divides those seconds with `div`, which truncates toward
    *    zero on both engines.
    *  - So before 1970 a bucket is not the calendar bucket: the second
    *    before the epoch is day 0, as is the first day after it.
    */
  def epochBucketSql(c: String, width: Long): String = {
    require(width >= 1, s"an event-time bucket of $width seconds")
    val secs = s"CAST($c AS LONG)"
    if (width == 1) secs else s"($secs div $width)"
  }

  /** [[epochBucketSql]] for the DuckDB oracles. `date_trunc('second', …)`
    * floors as Spark's cast does; `epoch_us(…) // 1000000` would truncate. */
  def duckEpochBucketSql(c: String, width: Long): String = {
    require(width >= 1, s"an event-time bucket of $width seconds")
    val secs = s"CAST(epoch(date_trunc('second', CAST($c AS TIMESTAMP))) AS BIGINT)"
    if (width == 1) secs else s"($secs // $width)"
  }

  // ---- order-statistic rank rules ------------------------------------------
  //
  // The 1-based rank of the picked value among a group's n sorted values,
  // as integer SQL text over the count text `n`. Every exact order
  // statistic reads its rank from here ([[Relational.rankPick]] picks it
  // off a value grid).

  /** Lower-median rank ⌈n/2⌉. */
  def lowerMedianRankSql(n: String): String = s"($n + 1) div 2"

  /** Upper-median rank ⌊n/2⌋ + 1; equal to the lower one for odd n. */
  def upperMedianRankSql(n: String): String = s"$n div 2 + 1"

  /** Type-1 quantile rank for the integer percent text `p`:
    * (p·(n−1)) div 100 + 1.
    */
  def type1RankSql(p: String, n: String): String = s"($p * ($n - 1)) div 100 + 1"

  // ---- exact moment statistics -------------------------------------------
  //
  // Every mean, variance, covariance, correlation and line fit is a fixed
  // IEEE expression tree over exact integer sums (each < 2^53), and
  // `+ − × / sqrt` are all correctly-rounded IEEE ops — so ANY engine
  // evaluating the text produces bit-identical doubles, unlike built-in
  // `corr`/`covar`/`stddev`, whose double accumulation varies with
  // partition order. The SAME text runs in Spark `expr` and the DuckDB
  // oracle. Divisions come FIRST: the algebraically equal product form
  // n·s_ab − s_a·s_b overflows BIGINT once n·s_ab passes 2⁶³ (≈600k rows
  // of 5-digit values). Build new statistics on these fragments.

  /** The row-count column `n` as the moment fragments' divisor,
    * `CAST(n AS DOUBLE)`. `nonZero` wraps it in nullif: an ungrouped
    * aggregate over an EMPTY input (an empty side, a 0-row train fold)
    * still emits one row with n = 0, and under ANSI the 0/0 kills the
    * query where DuckDB just goes quiet (r10 degenerate probe) — shared
    * text, so both engines carry the same NULL.
    */
  def divisorSql(n: String = "n", nonZero: Boolean = true): String =
    if (nonZero) s"nullif(CAST($n AS DOUBLE), 0.0E0)" else s"CAST($n AS DOUBLE)"

  /** Mean s_a / n over the divisor text `n` (see [[divisorSql]]). */
  def meanSql(sa: String, n: String): String = s"CAST($sa AS DOUBLE) / $n"

  /** Centred moment — population covariance of a and b, or variance
    * when a = b — in the divide-first form s_ab/n − (s_a/n)·(s_b/n),
    * over the exact sums `sab`, `sa`, `sb` and the divisor text `n`.
    */
  def cmomSql(sab: String, sa: String, sb: String, n: String = divisorSql()): String =
    s"(CAST($sab AS DOUBLE) / $n - (${meanSql(sa, n)}) * (${meanSql(sb, n)}))"

  /** Centred sum of products s_ab − (s_a/n)·s_b over the divisor text
    * `n`: the numerator of the sample (n−1) moments and of sums of
    * squares.
    */
  def centredSumSql(sab: String, sa: String, sb: String, n: String = divisorSql(nonZero = false)): String =
    s"(CAST($sab AS DOUBLE) - (${meanSql(sa, n)}) * CAST($sb AS DOUBLE))"

  /** Sample (n−1) covariance of a and b, or variance when a = b, over
    * the count column `nCol`: [[centredSumSql]] / (n − 1), NULL for a
    * single row (no sample moment) on both engines. `nonZero` guards the
    * mean's divisor as in [[divisorSql]].
    */
  def sampleCmomSql(sab: String, sa: String, sb: String, nCol: String = "n", nonZero: Boolean = false): String =
    s"${centredSumSql(sab, sa, sb, divisorSql(nCol, nonZero))} / nullif(CAST($nCol - 1 AS DOUBLE), 0.0E0)"

  /** Mean and the second to fourth central moments (mu, m2, m3, m4)
    * from the exact power sums `n, s1, s2, s3, s4`, each expanded
    * divisions-first; m2 is the [[cmomSql]] variance.
    */
  val centralMomentsSql: (String, String, String, String) = {
    val n = divisorSql(nonZero = false)
    def mean(s: String) = meanSql(s, n)
    val mu = s"(${mean("s1")})"
    val m3 = s"(${mean("s3")} - 3 * $mu * (${mean("s2")}) + 2 * $mu * $mu * $mu)"
    val m4 =
      s"(${mean("s4")} - 4 * $mu * (${mean("s3")}) + 6 * $mu * $mu * (${mean("s2")}) - 3 * $mu * $mu * $mu * $mu)"
    (mu, cmomSql("s2", "s1", "s1", n), m3, m4)
  }

  /** Aggregate columns for the exact integer sums the moment fragments
    * read, named and ordered as `names` lists them: a name that does not
    * start with `s` is the row count, `s` + one letter the sum of that
    * variable in `vars`, `s` + two letters the sum of their product
    * (first letter's column on the left). `wide` widens each product's
    * left factor to DECIMAL(38,0) (DuckDB: HUGEINT) — cents products
    * square past BIGINT at scale.
    */
  def momentSums(vars: Map[Char, Column], wide: Boolean = false)(names: String*): Seq[Column] =
    names.map { name =>
      val agg =
        if (!name.startsWith("s")) count(lit(1))
        else sum(name.tail.map(vars).reduce((a, b) => (if (wide) a.cast(DecimalType(38, 0)) else a) * b))
      agg.as(name)
    }

  /** [[momentSums]] `n, sx, sy, sxy, sxx, syy` over x and y: the sums
    * [[momentStatsSql]], [[cupedSql]], [[linregSql]] and [[residualSql]]
    * read.
    */
  def bivariateSums(x: Column, y: Column, wide: Boolean = false): Seq[Column] =
    momentSums(Map('x' -> x, 'y' -> y), wide)("n", "sx", "sy", "sxy", "sxx", "syy")

  /** Bivariate moments over the columns `n, sx, sy, sxy, sxx, syy`, each
    * name followed by `sfx`.
    */
  private final case class Moments(sfx: String, nonZero: Boolean) {
    val n: String = divisorSql(s"n$sfx", nonZero)
    def mean(a: String): String = meanSql(s"s$a$sfx", n)
    private def cmom(a: String, b: String) = cmomSql(s"s$a$b$sfx", s"s$a$sfx", s"s$b$sfx", n)
    val varX: String = cmom("x", "x")
    val varY: String = cmom("y", "y")
    val covar: String = cmom("x", "y")
  }

  /** Closed-form z-score from exact integer moments (column names fixed:
    * `n, sx, sxx` per group, `x` per row): (x − sx/n)/sqrt(sxx/n −
    * (sx/n)²); zero/negative variance yields NULL via a lazy CASE.
    */
  val zscoreSql: String = {
    val m = Moments("", nonZero = false)
    s"CASE WHEN ${m.varX} <= 0 THEN NULL ELSE (CAST(x AS DOUBLE) - ${m.mean("x")}) / sqrt(${m.varX}) END"
  }

  /** Closed-form moment statistics from exact integer sufficient
    * statistics `n, sx, sy, sxy, sxx, syy` (column names fixed): mean,
    * population stddev/covariance and Pearson correlation, as ordered
    * (name → SQL) pairs.
    */
  val momentStatsSql: Seq[(String, String)] = {
    val m = Moments("", nonZero = false)
    import m.{covar, varX, varY}
    Seq(
      "mean_x" -> m.mean("x"),
      "mean_y" -> m.mean("y"),
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
    * reduction ratio corr²; degenerate variances yield NULL.
    */
  val cupedSql: Seq[(String, String)] = {
    val m = Moments("", nonZero = false)
    import m.{covar, varX, varY}
    Seq(
      "theta" -> s"CASE WHEN $varX = 0 THEN NULL ELSE $covar / $varX END",
      "var_reduction" ->
        s"""CASE WHEN $varX * $varY = 0 THEN NULL
            ELSE ($covar / sqrt($varX * $varY)) * ($covar / sqrt($varX * $varY)) END""")
  }

  /** Ordinary-least-squares line fit from the sufficient statistics
    * `n, sx, sy, sxy, sxx, syy`, each column name followed by `sfx`
    * (`n_lo, sx_lo, …` for a per-side fit): slope = cov/var(x),
    * intercept = ȳ − slope·x̄, r² = cov²/(var(x)·var(y)); zero-variance
    * groups yield NULL via a lazy CASE. n rides nullif: an EMPTY side
    * (0-row train fold, empty corpus) makes the CASE *condition* itself
    * 0/0 before the varX guard can fire.
    */
  def linregSql(sfx: String = ""): Seq[(String, String)] = {
    val m = Moments(sfx, nonZero = true)
    import m.{covar, varX, varY}
    val slope = s"($covar / $varX)"
    Seq(
      "slope" -> s"CASE WHEN $varX = 0 THEN NULL ELSE $slope END",
      "intercept" -> s"CASE WHEN $varX = 0 THEN NULL ELSE ${m.mean("y")} - $slope * (${m.mean("x")}) END",
      "r2" -> s"CASE WHEN $varX * $varY = 0 THEN NULL ELSE ($covar * $covar) / ($varX * $varY) END")
  }

  /** Per-row OLS residual and the model-based outlier predicate, from
    * the same exact integer sufficient statistics as [[linregSql]]
    * (columns `n, sx, sy, sxy, sxx, syy` joined onto each fact row's
    * `x, y`): resid = y − (slope·x + intercept), flagged when |resid|
    * exceeds `mult`·rmse with rmse² = var(y) − cov²/var(x) (the exact
    * in-sample mse of the fitted line), so the filter boundary is
    * bit-identical on both engines.
    */
  val residualSql: String = {
    // nullif(n): see linregSql — the n = 0 empty-side case
    val m = Moments("", nonZero = true)
    val slope = s"(${m.covar} / ${m.varX})"
    // NULL when var(x) = 0 (single-row or all-tied group: no line to
    // fit) — the linregSql lazy-CASE convention; unguarded, Spark ANSI
    // throws DIVIDE_BY_ZERO on the slope where DuckDB yields NaN
    s"""CASE WHEN ${m.varX} = 0 THEN NULL
        ELSE (CAST(y AS DOUBLE) - ($slope * CAST(x AS DOUBLE) + ${m.mean("y")} - $slope * (${m.mean("x")})))
        END"""
  }

  def residualOutlierCondSql(mult: String): String = {
    val m = Moments("", nonZero = false)
    import m.{covar, varX, varY}
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
