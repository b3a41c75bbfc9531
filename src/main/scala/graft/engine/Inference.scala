package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical statistical inference over grouped event values — the
  * variance-homogeneity / rank-ANOVA / post-hoc-contrast family that sits
  * beside the reference's detector queries (spark_streaming.py:155-239
  * compares group behavior; these are the testable versions of "is this
  * group different"). Everything follows the library's cross-engine
  * discipline: values quantize to integer cents, group moments are
  * BIGINT-exact map-combined sums, the only transcendental is the
  * correctly-rounded `sqrt`, and any per-group DOUBLE term that must be
  * summed across groups is quantized to a BIGINT first so the cross-group
  * sum is order-free (floating addition is not associative; integer
  * addition is). Statistics are emitted WITHOUT p-values by design — the
  * ln/erf they'd need is not bit-portable across engines; t/F/H/q values
  * are.
  */
object Inference {

  /** Between-group Rayleigh term for one group's (n, s) integer moments:
    * round((s/n)·s), i.e. s²/n computed divisions-first in DOUBLE (s² can
    * overflow BIGINT at corpus scale; s/n cannot) and quantized back to a
    * BIGINT so the Σ over groups is order-free. Unit: (input unit)².
    */
  def rayleighQSql(n: String, s: String): String =
    s"CAST(round((CAST($s AS DOUBLE) / CAST($n AS DOUBLE)) * CAST($s AS DOUBLE)) AS BIGINT)"

  /** One-way ANOVA F over the single row (k, nn, ss, rbq, qq) = (#groups,
    * N, ΣΣx, Σ round(s_g²/n_g), ΣΣx²) — shared verbatim with the oracle.
    * SSB = rbq − S²/N, SSW = qq − rbq; F = (SSB/(k−1)) / (SSW/(N−k)).
    */
  def fStatSql: String =
    // nullif guards (shared text = shared alignment, r10 degenerate
    // probe): k = 1 group, nn = k (one row per group), or zero
    // within-group variance each zero a denominator — Spark ANSI throws
    // on DOUBLE/0 where DuckDB emits ±inf; F is NULL when undefined.
    s"""(${Stages.centredSumSql("rbq", "ss", "ss", Stages.divisorSql("nn"))} / nullif(CAST(k - 1 AS DOUBLE), 0.0E0))
       / nullif((CAST(qq AS DOUBLE) - CAST(rbq AS DOUBLE)) / nullif(CAST(nn - k AS DOUBLE), 0.0E0), 0.0E0)"""

  /** Brown–Forsythe homogeneity-of-variance test (Levene with median
    * centers — the robust default): one exact per-group median pass, a
    * broadcast join of the k medians back onto the facts, then one-way
    * ANOVA on the absolute deviations. Deviations live in HALF-cents
    * (2·cents − round(2·median) — the ·2 makes the .5-interpolated median
    * integral, so |dev| is BIGINT-exact). The exact `percentile` is
    * value-domain bounded (Spark's percentile aggregate holds a
    * counts-map per group, not the rows), so the pass scales with
    * distinct cents, not row count. Output: one row (k, n, f_stat).
    */
  def brownForsythe(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val med = events
      .groupBy(col("event_type"))
      .agg(expr(s"CAST(round(2 * percentile($cents, 0.5)) AS BIGINT)").as("med2"))
    val dev = events
      .join(broadcast(med), "event_type")
      .select(col("event_type"), expr(s"abs(2 * $cents - med2)").as("d"))
    val g = dev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s"), sum(col("d") * col("d")).as("q"))
    g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(col("s")).as("ss"),
      sum(expr(rayleighQSql("n", "s"))).as("rbq"),
      sum(col("q")).as("qq"))
      .select(col("k"), col("nn").as("n"), expr(fStatSql).as("f_stat"))
  }

  /** Kruskal–Wallis rank ANOVA with the tie correction, computed on the
    * VALUE GRID rather than per-row ranks (the same trick as
    * [[Analytics.mannWhitney]]): group counts collapse onto distinct
    * cents values, the rank arithmetic runs over that value-domain-
    * bounded grid, and the one unpartitioned running window is over the
    * grid — safe at any row count because the grid is bounded by the
    * value domain, not the corpus. Doubled rank sums (2R_g = Σ cnt·(2c +
    * t + 1)) stay BIGINT-exact; the per-group R²/n term is
    * divisions-first and quantized via [[rayleighQSql]] before the
    * cross-group sum. H = [12/(N(N+1))·Σ R_g²/n_g − 3(N+1)] / C with
    * C = 1 − Σ(t³−t)/(N³−N). Output: one row (k, n, h_stat).
    */
  def kruskalWallis(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val gx = events
      .select(col("event_type"), expr(cents).as("x"))
      .groupBy(col("x"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val below = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tx = gx
      .groupBy(col("x"))
      .agg(sum(col("cnt")).as("t"))
      .select(col("x"), col("t"), coalesce(sum(col("t")).over(below), lit(0L)).as("c"))
    val perGroup = gx
      .join(tx, "x")
      .groupBy(col("event_type"))
      .agg(
        sum(col("cnt")).as("n"),
        sum(col("cnt") * (lit(2L) * col("c") + col("t") + lit(1L))).as("s"))
    val ties = tx.agg(
      sum(col("t")).as("nn"),
      // DECIMAL(38,0) (oracle: HUGEINT): Σt³−t reaches N³, wrapping
      // BIGINT at ~2e6 rows when one value dominates
      sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie3"))
    perGroup
      .agg(
        count(lit(1)).as("k"),
        sum(expr(rayleighQSql("n", "s"))).as("r2q"))
      .crossJoin(broadcast(ties))
      // The all-tied guard compares in the WIDE integer type (Spark
      // DECIMAL(38,0); oracle HUGEINT), never after a double cast:
      // above ~2e5 pooled rows N³−N exceeds 2^53, both double casts
      // round, and an exact-equality guard on rounded doubles can
      // misfire on the degenerate case it exists for.
      .withColumn("all_tied", expr("tie3 = CAST(nn AS DECIMAL(38,0)) * nn * nn - nn"))
      .select(col("k"), col("nn").as("n"), expr(kwHSql).as("h_stat"))
  }

  /** Kruskal–Wallis H over (r2q, nn, tie3, all_tied) — r2q holds
    * Σ round((2R)²/n), i.e. 4·ΣR²/n, hence the /4. NULL when ALL values
    * tie (tie3 = N³−N zeroes the tie-correction denominator — Spark
    * ANSI would throw DIVIDE_BY_ZERO where DuckDB yields ±Infinity, so
    * the guard also keeps the engines aligned; H is undefined on a
    * constant sample anyway). `all_tied` is precomputed by EACH engine
    * in its wide integer type upstream (exact at any N, unlike a
    * double-cast equality). Shared verbatim with the oracle; the
    * comparison runs on exact doubles of exact integers, so it is
    * engine-identical.
    */
  def kwHSql: String =
    """CASE WHEN all_tied THEN NULL
       ELSE ((12.0 / (CAST(nn AS DOUBLE) * CAST(nn + 1 AS DOUBLE))) * (CAST(r2q AS DOUBLE) / 4.0)
        - 3.0 * CAST(nn + 1 AS DOUBLE))
       / (1.0 - CAST(tie3 AS DOUBLE) /
          (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE))) END"""

  /** Tukey-style post-hoc pairwise contrasts after one-way ANOVA: for
    * every unordered pair of groups, the studentized-range statistic
    * q = |mean_i − mean_j| / sqrt((MSE/2)·(1/n_i + 1/n_j)) with MSE from
    * the pooled within-group variance. One map-combined moments pass;
    * the k-row group table then self-joins into k(k−1)/2 pair rows —
    * post-aggregation, so the pair join is group-count-bounded, never
    * corpus-bounded. Output per pair: types, dollar means, q_stat.
    */
  def tukeyContrasts(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val g = events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(cents)).as("s"),
        sum(expr(s"$cents * $cents")).as("q"))
    val mse = g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(expr(rayleighQSql("n", "s"))).as("rbq"),
      sum(col("q")).as("qq"))
    val pairs = g.as("a")
      .join(g.as("b"), col("a.event_type") < col("b.event_type"))
      .crossJoin(broadcast(mse))
    pairs.select(
      col("a.event_type").as("type_a"),
      col("b.event_type").as("type_b"),
      expr("(CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)) / 100.0").as("mean_a"),
      expr("(CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)) / 100.0").as("mean_b"),
      expr(tukeyQSql("a.n", "a.s", "b.n", "b.s")).as("q_stat"))
  }

  /** Studentized-range statistic text over two groups' (n, s) and the
    * single-row (nn, k, rbq, qq) MSE moments — shared with the oracle.
    */
  def tukeyQSql(na: String, sa: String, nb: String, sb: String): String =
    s"""abs(CAST($sa AS DOUBLE) / CAST($na AS DOUBLE) - CAST($sb AS DOUBLE) / CAST($nb AS DOUBLE))
        / sqrt(((CAST(qq AS DOUBLE) - CAST(rbq AS DOUBLE)) / CAST(nn - k AS DOUBLE)) / 2.0
               * (1.0 / CAST($na AS DOUBLE) + 1.0 / CAST($nb AS DOUBLE)))"""

  /** Cohen's d / Hedges' g standardized mean difference between two event
    * types, from the same six integer moments as [[Analytics.welchTTest]]
    * but with the POOLED standard deviation (the effect size convention):
    * d = (m1−m2)/s_p, s_p² = ((n1−1)v1 + (n2−1)v2)/(n1+n2−2), and
    * Hedges' small-sample correction J = 1 − 3/(4(n1+n2)−9), g = J·d.
    * Scale-free (cents cancel). One map-combined pass, one row out.
    */
  def cohensD(
      events: DataFrame,
      typeA: String = "purchase",
      typeB: String = "view"): DataFrame = {
    val aggs = Analytics.twoSampleMomentAggs(typeA, typeB)
    events
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n1"), col("n2"),
        expr(cohenDSql).as("cohen_d"),
        expr(s"(1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * ($cohenDSql)")
          .as("hedges_g"))
  }

  /** Pooled-SD standardized difference over (n1,s1,q1,n2,s2,q2) — shared
    * verbatim with the oracle. Sample variances expand divisions-first.
    */
  def cohenDSql: String = {
    // nullif guards: an absent side (n = 0), a single observation
    // (n = 1), or two constant sides (pooled SD 0) leave d undefined —
    // NULL on both engines instead of an ANSI throw vs a DuckDB ±inf
    // (r10 degenerate probe).
    def v(sfx: String) = Analytics.welchVarSql(sfx)
    s"""(CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))
        / nullif(sqrt((CAST(n1 - 1 AS DOUBLE) * ${v("1")} + CAST(n2 - 1 AS DOUBLE) * ${v("2")})
               / nullif(CAST(n1 + n2 - 2 AS DOUBLE), 0.0E0)), 0.0E0)"""
  }

  /** 2×2 cohort contingency: exposure = weekend event (day-of-week from
    * pure date arithmetic — `(date − Monday-epoch) mod 7 ≥ 5` — because
    * engines disagree on dayofweek numbering), outcome = high-value
    * event. Emits the four BIGINT cells plus odds ratio, risk ratio and
    * the Woolf variance of log-OR (1/a+1/b+1/c+1/d) — the CI building
    * block that needs no ln. Ratios expand divisions-first ((a/b)·(d/c))
    * so the cross products never overflow at corpus scale. One
    * map-combined pass, one row.
    */
  def oddsRatio(events: DataFrame, caseCents: Long = 10000L): DataFrame = {
    val cents = Stages.centsSql("value")
    val wkend = "pmod(datediff(CAST(ts AS DATE), DATE'1970-01-05'), 7) >= 5"
    events
      .agg(
        sum(when(expr(s"$wkend AND $cents > $caseCents"), 1L).otherwise(0L)).as("a"),
        sum(when(expr(s"$wkend AND NOT ($cents > $caseCents)"), 1L).otherwise(0L)).as("b"),
        sum(when(expr(s"NOT ($wkend) AND $cents > $caseCents"), 1L).otherwise(0L)).as("c"),
        sum(when(expr(s"NOT ($wkend) AND NOT ($cents > $caseCents)"), 1L).otherwise(0L))
          .as("d"))
      .select(
        col("a"), col("b"), col("c"), col("d"),
        // nullif per cell: an empty contingency cell is REALISTIC (no
        // weekend high-value events in a window) and undefined ratios
        // must be NULL, not an ANSI throw vs a DuckDB ±inf (r10
        // degenerate probe); oracle carries the same guards
        expr("(CAST(a AS DOUBLE) / nullif(CAST(b AS DOUBLE), 0.0E0)) * (CAST(d AS DOUBLE) / nullif(CAST(c AS DOUBLE), 0.0E0))")
          .as("odds_ratio"),
        expr("""(CAST(a AS DOUBLE) / nullif(CAST(a + b AS DOUBLE), 0.0E0))
                / nullif(CAST(c AS DOUBLE) / nullif(CAST(c + d AS DOUBLE), 0.0E0), 0.0E0)""").as("risk_ratio"),
        expr("""1.0 / nullif(CAST(a AS DOUBLE), 0.0E0) + 1.0 / nullif(CAST(b AS DOUBLE), 0.0E0)
                + 1.0 / nullif(CAST(c AS DOUBLE), 0.0E0) + 1.0 / nullif(CAST(d AS DOUBLE), 0.0E0)""").as("se2_log_or"))
  }

  /** One-sample binomial proportion z-test per group with continuity
    * correction: is the share of high-value events p0? z = (x − n·p0 −
    * ½·sgn(x − n·p0)) / sqrt(n·p0·(1−p0)). Map-combined counts, k rows
    * out, arithmetic + one sqrt.
    */
  def binomialTest(events: DataFrame, p0: Double = 0.25, caseCents: Long = 10000L): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(expr(s"${Stages.centsSql("value")} > $caseCents"), 1L).otherwise(0L)).as("x"))
      .select(
        col("event_type"), col("n"), col("x"),
        expr("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)").as("p_hat"),
        expr(binomZSql(p0)).as("z"))

  /** Continuity-corrected binomial z text over (n, x) — shared with the
    * oracle. `p0` is interpolated as a literal so both engines see the
    * identical constant.
    */
  def binomZSql(p0: Double): String =
    s"""(CAST(x AS DOUBLE) - CAST(n AS DOUBLE) * $p0
         - 0.5 * CAST(sign(CAST(x AS DOUBLE) - CAST(n AS DOUBLE) * $p0) AS DOUBLE))
        / sqrt(CAST(n AS DOUBLE) * $p0 * (1.0 - $p0))"""

  /** Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    * per-part high-quantity rates toward the corpus rate: prior strength
    * M = μ(1−μ)/s² − 1 from the between-part variance of raw rates, and
    * each part's posterior rate is (x + Mμ)/(n + M) — the standard
    * small-n stabilizer for per-key rate tables. Raw rates are quantized
    * to parts-per-million BIGINTs before the cross-part variance sum so
    * it is order-free (DuckDB sums BIGINT in 128-bit, Spark in 64-bit —
    * both exact at these magnitudes). Two aggregates (per-part, then
    * k-row global) + one broadcast of the 1-row prior.
    */
  def ebShrinkage(lineitem: DataFrame, qtyThreshold: Double = 25.0): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity") >= qtyThreshold, 1L).otherwise(0L)).as("x"))
      .withColumn(
        "ppm",
        expr("CAST(round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"))
    val prior = perPart.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("sn"),
      sum(col("x")).as("sx"),
      sum(col("ppm")).as("sp"),
      sum(col("ppm") * col("ppm")).as("spp"))
    perPart
      .crossJoin(broadcast(prior.select(expr(ebMuSql).as("mu"), expr(ebMSql).as("m_prior"))))
      .select(
        col("l_partkey"), col("n"), col("x"),
        expr("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)").as("p_raw"),
        col("mu"), col("m_prior"),
        expr("(CAST(x AS DOUBLE) + m_prior * mu) / (CAST(n AS DOUBLE) + m_prior)")
          .as("p_shrunk"))
  }

  /** Corpus rate μ over (sn, sx) — shared with the oracle. */
  def ebMuSql: String = "CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE)"

  /** MoM prior strength over (k, sp, spp, sn, sx): sample variance of the
    * ppm-quantized rates, rescaled to rate², then M = max(μ(1−μ)/s² − 1,
    * 0) — clamped so a near-zero between-part variance cannot emit a
    * negative prior. Shared with the oracle.
    */
  def ebMSql: String = {
    // CASE (not nullif+greatest): a single part (k = 1) or zero
    // between-part variance leaves the prior undefined — and
    // greatest(NULL, 0) is engine-divergent (Spark skips NULLs, so the
    // CASE carries the NULL through both engines identically; r10
    // degenerate probe).
    val s2 = s"((${Stages.sampleCmomSql("spp", "sp", "sp", "k", nonZero = true)}) / 1000000000000.0)"
    s"""(CASE WHEN $s2 > 0.0 THEN greatest(($ebMuSql) * (1.0 - ($ebMuSql)) / $s2 - 1.0, 0.0) END)"""
  }

  /** Two-proportion z-test: does the high-value share differ between
    * weekday and weekend events? Pooled-variance z over four
    * map-combined counts (same weekend definition as [[oddsRatio]]).
    * One pass, one row, arithmetic + one sqrt.
    */
  def twoProportionTest(events: DataFrame, caseCents: Long = 10000L): DataFrame = {
    val cents = Stages.centsSql("value")
    val wkend = "pmod(datediff(CAST(ts AS DATE), DATE'1970-01-05'), 7) >= 5"
    events
      .agg(
        sum(when(expr(s"NOT ($wkend)"), 1L).otherwise(0L)).as("n1"),
        sum(when(expr(s"NOT ($wkend) AND $cents > $caseCents"), 1L).otherwise(0L)).as("x1"),
        sum(when(expr(wkend), 1L).otherwise(0L)).as("n2"),
        sum(when(expr(s"$wkend AND $cents > $caseCents"), 1L).otherwise(0L)).as("x2"))
      .select(
        col("n1"), col("x1"), col("n2"), col("x2"),
        expr("CAST(x1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0)").as("p1"),
        expr("CAST(x2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)").as("p2"),
        expr(twoPropZSql).as("z"))
  }

  /** Pooled two-proportion z text over (n1, x1, n2, x2) — shared
    * verbatim with the oracle.
    */
  def twoPropZSql: String =
    // nullif guards: an absent side or a degenerate pooled proportion
    // (all successes / all failures) zeroes the SE — NULL, not an ANSI
    // throw vs a DuckDB ±inf (r10 degenerate probe)
    """(CAST(x1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(x2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))
       / nullif(sqrt((CAST(x1 + x2 AS DOUBLE) / nullif(CAST(n1 + n2 AS DOUBLE), 0.0E0))
              * (1.0 - CAST(x1 + x2 AS DOUBLE) / nullif(CAST(n1 + n2 AS DOUBLE), 0.0E0))
              * (1.0 / nullif(CAST(n1 AS DOUBLE), 0.0E0) + 1.0 / nullif(CAST(n2 AS DOUBLE), 0.0E0))), 0.0E0)"""

  /** Hellinger distance between the purchase and view value histograms
    * on $10 buckets: H = sqrt(1 − BC), BC = Σ√(aᵢbᵢ)/√(na·nb). The
    * per-bucket √(aᵢbᵢ) terms are milli-quantized to BIGINT before the
    * cross-bucket sum (√ is correctly rounded; the SUM of roots is the
    * order-sensitive part), so BC is identical on any engine. One
    * histogram aggregate over the value grid, one row out.
    */
  def hellingerDistance(
      events: DataFrame,
      typeA: String = "purchase",
      typeB: String = "view"): DataFrame = {
    val cents = Stages.centsSql("value")
    events
      .filter(col("event_type").isin(typeA, typeB))
      .groupBy(expr(s"$cents div 1000").as("bucket"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("a")).as("na"),
        sum(col("b")).as("nb"),
        sum(expr(
          "CAST(round(sqrt(CAST(a AS DOUBLE) * CAST(b AS DOUBLE)) * 1000) AS BIGINT)"))
          .as("bc_milli"))
      .select(
        col("n_buckets"), col("na"), col("nb"),
        expr(hellingerBcSql).as("bc"),
        expr(s"sqrt(greatest(1.0 - ($hellingerBcSql), 0.0))").as("hellinger"))
  }

  /** Bhattacharyya coefficient text over (bc_milli, na, nb) — shared
    * verbatim with the oracle.
    */
  def hellingerBcSql: String =
    // nullif: one side empty (na·nb = 0) is NULL on both engines — a
    // bare /0 is NULL in DuckDB but an ANSI throw in Spark (extreme-
    // fixture sweep, r10); the shared text keeps them lock-step.
    """(CAST(bc_milli AS DOUBLE) / 1000.0
        / nullif(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 0.0))"""

  /** Delta-method variance for a RATIO metric (revenue per event), the
    * estimator experimentation platforms need because ratio metrics
    * violate the iid-unit assumption: days are the units, R = Σx/Σy, and
    * var(R) ≈ (s²_x − 2R·s_xy + R²·s²_y) / (n·ȳ²) from one pass of exact
    * integer day moments. Emits the ratio and its delta-method variance
    * (cents scale); everything expands divisions-first.
    */
  def deltaMethodRatio(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("CAST(ts AS DATE)").as("d"))
      .agg(
        sum(expr(Stages.centsSql("value"))).as("x"),
        count(lit(1)).as("y"))
    val sums = Stages.momentSums(Map('x' -> col("x"), 'y' -> col("y")))("n", "sx", "sy", "sxx", "sxy", "syy")
    daily
      .agg(sums.head, sums.tail: _*)
      .select(
        col("n").as("n_days"),
        expr("CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)").as("ratio_cents"),
        expr(deltaSe2Sql).as("se2_ratio"))
  }

  /** Delta-method variance text over (n, sx, sy, sxx, sxy, syy) — shared
    * verbatim with the oracle. R and the sample (co)variances expand
    * divisions-first from the BIGINT moments.
    */
  def deltaSe2Sql: String = {
    // nullif guards: a single day (n = 1) zeroes every sample-moment
    // denominator — NULL on both engines (r10 degenerate probe)
    val r = "(CAST(sx AS DOUBLE) / nullif(CAST(sy AS DOUBLE), 0.0E0))"
    val vx = s"(${Stages.sampleCmomSql("sxx", "sx", "sx")})"
    val vy = s"(${Stages.sampleCmomSql("syy", "sy", "sy")})"
    val cxy = s"(${Stages.sampleCmomSql("sxy", "sx", "sy")})"
    val ybar = s"(${Stages.meanSql("sy", Stages.divisorSql(nonZero = false))})"
    s"(($vx - 2.0 * $r * $cxy + $r * $r * $vy) / nullif(CAST(n AS DOUBLE) * $ybar * $ybar, 0.0E0))"
  }

  /** TOST equivalence test (two one-sided t statistics) for the
    * purchase-vs-view mean difference against a ±`marginCents`
    * equivalence band, on the Welch standard error: t_lower tests
    * diff > −δ, t_upper tests diff < +δ; equivalence holds when both
    * clear their one-sided critical values. Same six integer moments as
    * [[cohensD]].
    */
  def tost(
      events: DataFrame,
      typeA: String = "purchase",
      typeB: String = "view",
      marginCents: Long = 500L): DataFrame = {
    val aggs = Analytics.twoSampleMomentAggs(typeA, typeB)
    events
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n1"), col("n2"),
        expr("(CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0)) / 100.0")
          .as("diff_dollars"),
        expr(tostTSql(marginCents, lower = true)).as("t_lower"),
        expr(tostTSql(marginCents, lower = false)).as("t_upper"))
  }

  /** One-sided TOST t text over the six moments; `lower` adds +δ, upper
    * −δ. Shares the Welch standard error shape with [[Analytics]].
    */
  def tostTSql(marginCents: Long, lower: Boolean): String = {
    // same degenerate-side nullif guards as [[Analytics.welchTSql]]
    // (r10 degenerate probe)
    def v(sfx: String) = Analytics.welchVarSql(sfx)
    val se = s"nullif(sqrt(${v("1")} / CAST(n1 AS DOUBLE) + ${v("2")} / CAST(n2 AS DOUBLE)), 0.0E0)"
    val sign = if (lower) "+" else "-"
    s"""((CAST(s1 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0E0) - CAST(s2 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0E0))
         $sign $marginCents.0) / $se"""
  }

  /** Difference-in-differences over a hashed arm (md5 of user id, the
    * library's deterministic assignment) and an early/late period split
    * at the observed time midpoint: DiD = (m̄ arm1,late − m̄ arm1,early) −
    * (m̄ arm0,late − m̄ arm0,early), with the four-cell variance
    * Σ vᵢ/nᵢ. The midpoint broadcasts from a 1-row min/max aggregate;
    * cells are one map-combined pass of integer moments.
    */
  def diffInDiff(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    val arm = Analytics.userArmSql
    val secs = Stages.epochBucketSql("ts", 1)
    val span = events.agg(min(expr(secs)).as("t0"), max(expr(secs)).as("t1"))
    def cell(a: Int, late: Boolean, sfx: String) = {
      val period = if (late) s"$secs * 2 >= t0 + t1" else s"$secs * 2 < t0 + t1"
      Seq(
        sum(when(expr(s"$arm = $a AND $period"), 1L).otherwise(0L)).as(s"n$sfx"),
        sum(when(expr(s"$arm = $a AND $period"), expr(cents)).otherwise(lit(0L))).as(s"s$sfx"),
        sum(when(expr(s"$arm = $a AND $period"), expr(s"$cents * $cents")).otherwise(lit(0L)))
          .as(s"q$sfx"))
    }
    val aggs = cell(0, late = false, "00") ++ cell(0, late = true, "01") ++
      cell(1, late = false, "10") ++ cell(1, late = true, "11")
    events
      .crossJoin(broadcast(span))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col("n00"), col("n01"), col("n10"), col("n11"),
        expr(didSql).as("did_cents"),
        expr(didSe2Sql).as("se2_did"))
  }

  /** DiD point estimate over the four cells' (n, s) — shared verbatim.
    * nullif per cell: an empty arm×period cell is realistic and leaves
    * the estimate undefined (NULL on both engines, r10 degenerate probe).
    */
  def didSql: String = {
    def m(sfx: String) = s"(CAST(s$sfx AS DOUBLE) / nullif(CAST(n$sfx AS DOUBLE), 0.0E0))"
    s"((${m("11")} - ${m("10")}) - (${m("01")} - ${m("00")}))"
  }

  /** DiD variance Σ vᵢ/nᵢ over the four cells — shared verbatim. */
  def didSe2Sql: String = {
    def v(sfx: String) = s"(${Analytics.welchVarSql(sfx)} / CAST(n$sfx AS DOUBLE))"
    s"(${v("00")} + ${v("01")} + ${v("10")} + ${v("11")})"
  }

  /** Wald instrumental-variable estimate: instrument z = weekend (date
    * arithmetic, as in [[oddsRatio]]), treatment x = high-value event,
    * outcome y = the numeric props payload. Wald = (ȳ₁−ȳ₀)/(x̄₁−x̄₀) —
    * the ratio of the reduced form to the first stage, from six integer
    * sums in one pass. Null props count as zero exposure.
    */
  def waldIV(events: DataFrame, caseCents: Long = 10000L): DataFrame = {
    val wkend = "pmod(datediff(CAST(ts AS DATE), DATE'1970-01-05'), 7) >= 5"
    val x = s"CASE WHEN ${Stages.centsSql("value")} > $caseCents THEN 1 ELSE 0 END"
    val y = "coalesce(CAST(nullif(get_json_object(props, '$.k'), '') AS BIGINT), 0)"
    events
      .agg(
        sum(when(expr(wkend), 1L).otherwise(0L)).as("nz1"),
        sum(when(expr(wkend), expr(x)).otherwise(lit(0L))).as("sx1"),
        sum(when(expr(wkend), expr(y)).otherwise(lit(0L))).as("sy1"),
        sum(when(!expr(wkend), 1L).otherwise(0L)).as("nz0"),
        sum(when(!expr(wkend), expr(x)).otherwise(lit(0L))).as("sx0"),
        sum(when(!expr(wkend), expr(y)).otherwise(lit(0L))).as("sy0"))
      .select(
        col("nz1"), col("nz0"),
        expr("CAST(sx1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sx0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0)")
          .as("first_stage"),
        expr("CAST(sy1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sy0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0)")
          .as("reduced_form"),
        expr(waldSql).as("wald"))
  }

  /** Wald ratio text over (nz1, sx1, sy1, nz0, sx0, sy0) — shared.
    * nullif guards: an absent instrument side or a ZERO first stage (no
    * treatment contrast — the all-duplicates shape, but also any real
    * window where weekend and weekday treat identically) leaves the IV
    * estimate undefined — NULL on both engines (r10 degenerate probe).
    */
  def waldSql: String =
    """(CAST(sy1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sy0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0))
       / nullif(CAST(sx1 AS DOUBLE) / nullif(CAST(nz1 AS DOUBLE), 0.0E0) - CAST(sx0 AS DOUBLE) / nullif(CAST(nz0 AS DOUBLE), 0.0E0), 0.0E0)"""

  /** Neyman allocation for stratified sampling: given a total budget,
    * each stratum's optimal share is ∝ N_h·S_h (size × within-stratum
    * SD). Per-stratum terms come from one pass of integer moments, are
    * quantized to BIGINT cents before the cross-stratum total (order-free
    * rule), and the 1-row total broadcasts back. The planning query a
    * sampling pipeline runs BEFORE drawing.
    */
  def neymanAllocation(events: DataFrame, budget: Long = 1000L): DataFrame = {
    val cents = Stages.centsSql("value")
    // nullif: a single-row stratum has no SD; a zero cross-stratum term
    // total (every stratum constant) leaves every share undefined —
    // NULL, not an ANSI throw (r10 degenerate probe; oracle twin
    // carries the same guards)
    val sdSql = s"sqrt(${Stages.sampleCmomSql("q", "s", "s")})"
    val g = events
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(cents)).as("s"),
        sum(expr(s"$cents * $cents")).as("q"))
      .withColumn("term", expr(s"CAST(round(CAST(n AS DOUBLE) * $sdSql) AS BIGINT)"))
    val tot = g.agg(sum(col("term")).as("term_total"))
    g.crossJoin(broadcast(tot))
      .select(
        col("event_type"), col("n"),
        expr(s"$sdSql / 100.0").as("sd_dollars"),
        expr("CAST(term AS DOUBLE) / nullif(CAST(term_total AS DOUBLE), 0.0E0)").as("share"),
        expr(s"CAST(round($budget.0 * CAST(term AS DOUBLE) / nullif(CAST(term_total AS DOUBLE), 0.0E0)) AS BIGINT)")
          .as("n_alloc"))
  }

  /** Benjamini–Hochberg discovery screen over per-part high-quantity
    * rates with CHEBYSHEV-bounded p-values: p̃ = min(1, 1/z²) is a valid
    * (conservative) p-value bound for ANY null distribution, and — unlike
    * the normal tail — needs no erf, so it is bit-portable across
    * engines. BH then finds k = max{i : p̃₍ᵢ₎ ≤ α·i/m} and flags ranks ≤
    * k. The rank window is part-domain bounded (dimension-scale, never
    * fact-scale); the global k comes from a 1-row aggregate broadcast
    * back. α is interpolated as a literal.
    */
  def fdrScreen(lineitem: DataFrame, qtyThreshold: Double = 45.0, alpha: Double = 0.1): DataFrame = {
    val perPart = lineitem
      .groupBy(col("l_partkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity") >= qtyThreshold, 1L).otherwise(0L)).as("x"))
    val tot = perPart.agg(
      sum(col("n")).as("sn"), sum(col("x")).as("sx"), count(lit(1)).as("m"))
    val mu = "(CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE))"
    // nullif: a degenerate corpus rate (no part ever crosses the
    // threshold, or all do) zeroes the binomial SE — z is NULL, not an
    // ANSI throw (r10 degenerate probe). p̃ gets an explicit CASE: 1/z²
    // is min'd at 1.0 when z = 0 (the bound is exact there), and
    // least(1.0, NULL) is engine-divergent (Spark skips NULLs), so the
    // NULL-z row must carry its NULL through a CASE, not through least.
    val z =
      s"""((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) - $mu)
           / nullif(sqrt($mu * (1.0 - $mu) / CAST(n AS DOUBLE)), 0.0E0))"""
    val w = Window.partitionBy(lit(1)).orderBy(col("p_cheb").asc, col("l_partkey").asc)
    val ranked = perPart
      .crossJoin(broadcast(tot))
      .withColumn("z", expr(z))
      .withColumn("p_cheb", expr(
        "CASE WHEN z * z > 0.0 THEN least(1.0, 1.0 / (z * z)) WHEN z = 0.0 THEN 1.0 END"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("bh_ok", expr(s"p_cheb <= $alpha * CAST(rank AS DOUBLE) / CAST(m AS DOUBLE)"))
    val kMax = ranked.agg(coalesce(max(when(col("bh_ok"), col("rank"))), lit(0L)).as("k_max"))
    ranked
      .crossJoin(broadcast(kMax))
      .select(
        col("l_partkey"), col("n"), col("x"), col("z"), col("p_cheb"), col("rank"),
        (col("rank") <= col("k_max")).as("discovered"))
  }

  /** Day-of-week seasonality strength of daily revenue: one-way ANOVA of
    * the daily totals across the 7 weekday groups — F via [[fStatSql]]
    * and the variance share η² = SSB/SST. Runs on the DAY grid
    * (calendar-bounded); weekday indexes use the portable date
    * arithmetic of [[oddsRatio]].
    */
  def dowSeasonalityStrength(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(expr("CAST(ts AS DATE)").as("d"))
      .agg(sum(expr(Stages.centsSql("value"))).as("rev"))
      .select(
        expr("pmod(datediff(d, DATE'1970-01-05'), 7)").as("dow"), col("rev"))
    val g = daily
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("s"),
        sum(col("rev") * col("rev")).as("q"))
    g.agg(
      count(lit(1)).as("k"),
      sum(col("n")).as("nn"),
      sum(col("s")).as("ss"),
      sum(expr(rayleighQSql("n", "s"))).as("rbq"),
      sum(col("q")).as("qq"))
      .select(
        col("k"), col("nn").as("n_days"),
        expr(fStatSql).as("f_stat"),
        expr(etaSqSql).as("eta2"))
  }

  /** η² = SSB/SST over (nn, ss, rbq, qq) — shared verbatim. nullif: a
    * constant series has SST = 0 and no variance share (r10 probe). */
  def etaSqSql: String =
    """((CAST(rbq AS DOUBLE) - (CAST(ss AS DOUBLE) / nullif(CAST(nn AS DOUBLE), 0.0E0)) * CAST(ss AS DOUBLE))
        / nullif(CAST(qq AS DOUBLE) - (CAST(ss AS DOUBLE) / nullif(CAST(nn AS DOUBLE), 0.0E0)) * CAST(ss AS DOUBLE), 0.0E0))"""

  /** Chapman capture–recapture estimate of the active-user population
    * from two "capture occasions" (early vs late half of the observed
    * span, split as in [[diffInDiff]]): N̂ = (nA+1)(nB+1)/(m+1) − 1 with
    * the usual variance, where m is the users seen in BOTH periods. One
    * per-user aggregate (two boolean presence flags), one 1-row count
    * pass — the "how many users exist that we never saw" estimator.
    */
  def captureRecapture(events: DataFrame): DataFrame = {
    val secs = Stages.epochBucketSql("ts", 1)
    val span = events.agg(min(expr(secs)).as("t0"), max(expr(secs)).as("t1"))
    val perUser = events
      .crossJoin(broadcast(span))
      .groupBy(col("user_id"))
      .agg(
        max(when(expr(s"$secs * 2 < t0 + t1"), 1L).otherwise(0L)).as("in_a"),
        max(when(expr(s"$secs * 2 >= t0 + t1"), 1L).otherwise(0L)).as("in_b"))
    perUser
      .agg(
        sum(col("in_a")).as("na"),
        sum(col("in_b")).as("nb"),
        sum(col("in_a") * col("in_b")).as("m"))
      .select(
        col("na"), col("nb"), col("m"),
        expr(chapmanSql).as("n_hat"),
        expr(chapmanVarSql).as("var_n_hat"))
  }

  /** Chapman estimator text over (na, nb, m) — shared verbatim. */
  def chapmanSql: String =
    """(CAST(na + 1 AS DOUBLE) * CAST(nb + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0)"""

  /** Chapman variance text over (na, nb, m) — shared verbatim. */
  def chapmanVarSql: String =
    """(CAST(na + 1 AS DOUBLE) * CAST(nb + 1 AS DOUBLE)
        * CAST(na - m AS DOUBLE) * CAST(nb - m AS DOUBLE)
        / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE) * CAST(m + 2 AS DOUBLE)))"""

  /** Bayesian A/B readout with Beta(1,1) priors on per-user conversion:
    * posterior means and the normal-approximation z between the two arm
    * posteriors (exact Beta moments — α/(α+β) and αβ/((α+β)²(α+β+1)) —
    * are plain arithmetic; P(A>B) itself needs the Beta CDF and is
    * deliberately not emitted). Arms are the md5 hash split used across
    * the library. One per-user aggregate, one 1-row pass.
    */
  def bayesAB(events: DataFrame): DataFrame = {
    events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
      .select(col("converted"), expr(Analytics.userArmSql).as("arm"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("converted")).otherwise(lit(0L))).as("c1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === 1, col("converted")).otherwise(lit(0L))).as("c2"))
      .select(
        col("n1"), col("c1"), col("n2"), col("c2"),
        expr(betaMeanSql("c1", "n1")).as("mu1"),
        expr(betaMeanSql("c2", "n2")).as("mu2"),
        expr(bayesZSql).as("z"))
  }

  /** Beta(1+c, 1+n−c) posterior mean text — shared verbatim. */
  def betaMeanSql(c: String, n: String): String =
    s"(CAST($c + 1 AS DOUBLE) / CAST($n + 2 AS DOUBLE))"

  /** Beta posterior variance text — αβ/((α+β)²(α+β+1)). */
  def betaVarSql(c: String, n: String): String =
    s"""(CAST($c + 1 AS DOUBLE) * CAST($n - $c + 1 AS DOUBLE)
        / (CAST($n + 2 AS DOUBLE) * CAST($n + 2 AS DOUBLE) * CAST($n + 3 AS DOUBLE)))"""

  /** Normal-approx z between the two arm posteriors — shared verbatim. */
  def bayesZSql: String =
    s"""((${betaMeanSql("c1", "n1")} - ${betaMeanSql("c2", "n2")})
        / sqrt(${betaVarSql("c1", "n1")} + ${betaVarSql("c2", "n2")}))"""

  /** Exact 10%-trimmed mean per return flag WITHOUT sorting the facts:
    * on the per-flag value grid, each distinct price's contribution to
    * the trimmed window (ranks lo < r ≤ n−lo) is the integer overlap
    * min(cum, n−lo) − max(cum−t, lo) clamped at 0 — so ties straddling a
    * trim boundary contribute exactly their in-window multiplicity. The
    * robust-location cousin of q_winsor_mean (winsorizing clamps; the
    * trim DROPS). Value-domain-bounded window, integer arithmetic until
    * the closing division.
    */
  def trimmedMean(lineitem: DataFrame, trimPct: Int = 10): DataFrame = {
    // shared pinned cents histogram (see Relational.centsDistByFlag)
    Relational
      .gridRunningWeight(Relational.centsDistByFlag(lineitem), Seq("l_returnflag"), "x", "cnt")
      .withColumn("lo", expr(s"n * $trimPct div 100"))
      .withColumn(
        "c_eff",
        expr("greatest(least(cum, n - lo) - greatest(cum - cnt, lo), 0)"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).as("n"), sum(expr("c_eff * x")).as("sx"), sum(col("c_eff")).as("n_kept"))
      .select(
        col("l_returnflag"), col("n"), col("n_kept"),
        expr("(CAST(sx AS DOUBLE) / CAST(n_kept AS DOUBLE)) / 100.0").as("trimmed_mean"))
  }

  /** Average precision (area under the precision–recall curve, by the
    * standard AP sum) of the value→purchase ranking: at each positive's
    * rank k, precision@k = cum_pos/k; AP is their mean. Per-position
    * precision terms are micro-quantized BIGINTs before the cross-rank
    * sum (order-free rule). The total-order rank AND the running
    * positive count both come from [[Relational.scalableCumSum]] (the
    * blocked prefix sum) — no single-partition window ever sees the
    * corpus.
    */
  def averagePrecision(events: DataFrame): DataFrame = {
    val cents = Stages.centsSql("value")
    Relational
      .scalableCumSum(
        events.select(
          (col("event_type") === "purchase").cast("long").as("y"),
          expr(cents).as("c"), col("event_id")),
        "y", col("c").desc, col("event_id").asc)
      .withColumnRenamed("rank", "rn")
      .withColumnRenamed("cum", "cum_pos")
      .filter(col("y") === 1L)
      .agg(
        count(lit(1)).as("n_pos"),
        sum(expr(
          "CAST(round(CAST(cum_pos AS DOUBLE) / CAST(rn AS DOUBLE) * 1000000) AS BIGINT)"))
          .as("ap_micro"))
      .select(
        col("n_pos"),
        expr("CAST(ap_micro AS DOUBLE) / 1000000.0 / CAST(n_pos AS DOUBLE)").as("avg_precision"))
  }

  /** Process-capability indices per return flag against fixed price spec
    * limits: Cp = (USL−LSL)/6σ (potential) and Cpk = min(USL−μ, μ−LSL)/3σ
    * (actual, penalizing off-center). The SPC readout over the same
    * integer moments as every location/scale op here.
    */
  def processCapability(
      lineitem: DataFrame,
      lslCents: Long = 10000L,
      uslCents: Long = 100000L): DataFrame = {
    val cents = Stages.centsSql("l_extendedprice")
    val sd = s"sqrt(${Stages.sampleCmomSql("q", "s", "s")})"
    val mu = s"(${Stages.meanSql("s", Stages.divisorSql(nonZero = false))})"
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr(cents)).as("s"),
        sum(expr(s"$cents * $cents")).as("q"))
      .select(
        col("l_returnflag"), col("n"),
        expr(s"$mu / 100.0").as("mean_dollars"),
        expr(s"$sd / 100.0").as("sd_dollars"),
        expr(s"(($uslCents.0 - $lslCents.0) / nullif(6.0 * $sd, 0.0E0))").as("cp"),
        expr(s"(least($uslCents.0 - $mu, $mu - $lslCents.0) / nullif(3.0 * $sd, 0.0E0))").as("cpk"))
  }

  /** ABC inventory classification of parts by cumulative revenue share,
    * with the class boundaries tested in INTEGER cents (5·cum ≤ 4·total
    * for the 80 % A-line, 20·cum ≤ 19·total for 95 %) so no float
    * comparison can flip a boundary part between engines. Rank and
    * running sum come from [[Relational.scalableCumSum]] (blocked
    * prefix sum — parallel even when |parts| outgrows one partition);
    * revenue totals are one map-combined aggregate.
    */
  def abcClassification(lineitem: DataFrame): DataFrame = {
    val rev = lineitem
      .groupBy(col("l_partkey"))
      .agg(sum(expr(Stages.centsSql("l_extendedprice"))).as("rev"))
    val tot = rev.agg(sum(col("rev")).as("tot"))
    Relational.scalableCumSum(rev, "rev", col("rev").desc, col("l_partkey").asc)
      .crossJoin(broadcast(tot))
      .select(
        col("l_partkey"), col("rank"),
        expr("CAST(rev AS DOUBLE) / 100.0").as("revenue_dollars"),
        expr("CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)").as("cum_share"),
        expr("""CASE WHEN 5 * cum <= 4 * tot THEN 'A'
                     WHEN 20 * cum <= 19 * tot THEN 'B'
                     ELSE 'C' END""").as("abc_class"))
  }

  /** Rank-biased overlap (RBO, truncated at depth k, p = 0.9) between
    * the revenue-ranked and quantity-ranked top-k part lists. Uses the
    * suffix-weight identity RBO = Σ_matched W_max(ra,rb) with the weights
    * W_m = Σ_{d=m..k} (1−p)p^{d−1}/d PRECOMPUTED as literals (both
    * engines see identical constants — no runtime pow). The two top-k
    * lists are TakeOrdered results; the match join is k-bounded.
    */
  def rankBiasedOverlap(lineitem: DataFrame, k: Int = 10, p: Double = 0.9): DataFrame = {
    val caseW = rboSuffixCaseSql(k, p)
    def topBy(agg: org.apache.spark.sql.Column, rname: String) =
      Relational.rankedTopK(
        lineitem.groupBy(col("l_partkey")).agg(agg.as("v")),
        k, col("v").desc, col("l_partkey").asc)
        .select(col("l_partkey"), col("rank").as(rname))
    val a = topBy(sum(expr(Stages.centsSql("l_extendedprice"))), "ra")
    val b = topBy(sum(expr(Stages.lineitemQtySql)), "rb")
    a.join(b, "l_partkey")
      .agg(
        count(lit(1)).as("n_matched"),
        coalesce(sum(expr(caseW)), lit(0.0)).as("rbo"))
      .select(lit(k.toLong).as("k"), lit(p).as("p"), col("n_matched"), col("rbo"))
  }

  /** Suffix-weight CASE text over greatest(ra, rb): W_m = Σ_{d=m..k}
    * (1−p)p^{d−1}/d, computed HERE once and interpolated as decimal
    * literals into both engines' SQL (shortest-round-trip doubles parse
    * identically everywhere; no runtime pow).
    */
  def rboSuffixCaseSql(k: Int, p: Double): String = {
    val weights = (1 to k).map(d => (1 - p) * math.pow(p, d - 1) / d)
    val suffix = (1 to k).map(m => weights.drop(m - 1).sum)
    // CAST wrapper: both engines parse bare decimal literals as DECIMAL;
    // the cast pins the arithmetic to DOUBLE on each side identically
    (1 to k)
      .map(m => s"WHEN $m THEN ${suffix(m - 1)}")
      .mkString("CAST(CASE greatest(ra, rb) ", " ", " ELSE 0.0 END AS DOUBLE)")
  }

  /** Rolling 7-day Pearson correlation between daily order count and
    * daily revenue, per return flag: the co-movement monitor. The daily
    * rollup is map-combined; the trailing window runs per (flag) over
    * the DAY grid — calendar-bounded, so the sort is tiny at any scale —
    * and the correlation is one fixed expression over six integer window
    * sums. Emits NULL until the window holds ≥3 days or when either
    * series is locally constant.
    */
  def rollingCorr(lineitem: DataFrame): DataFrame = {
    val daily = lineitem
      .groupBy(col("l_returnflag"), expr("CAST(l_shipdate AS DATE)").as("d"))
      .agg(
        count(lit(1)).as("x"),
        sum(expr(Stages.centsSql("l_extendedprice"))).as("y"))
    val w = Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("d"))
      .rowsBetween(-6, 0)
    daily
      .select(
        col("l_returnflag"), col("d"),
        count(lit(1)).over(w).as("wn"),
        sum(col("x")).over(w).as("sx"),
        sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"),
        sum(col("x") * col("y")).over(w).as("sxy"))
      .select(
        col("l_returnflag"),
        // epoch-day key, not a raw DATE — cross-engine dtype-stable
        expr("CAST(datediff(d, DATE'1970-01-01') AS BIGINT)").as("day_epoch"),
        col("wn").as("n_days"),
        expr(rollingCorrSql).as("r"))
  }

  /** Pearson r over the six window sums (wn, sx, sy, sxx, syy, sxy) —
    * NULL when degenerate. Shared verbatim with the oracle.
    */
  def rollingCorrSql: String =
    """CASE WHEN wn < 3
              OR CAST(wn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
              OR CAST(wn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
            THEN NULL
            ELSE (CAST(wn AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(wn AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(wn AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END"""

  /** Mood's median test between the value distributions of two event
    * types — the coarser, more outlier-robust sibling of
    * [[graft.engine.Analytics.mannWhitney]] (which shares its value→count
    * grid). The grand median is the exact lower median of the MERGED
    * distribution, read off the bounded cent grid (rank ⌈N/2⌉ by
    * [[Relational.rankPick]] — pure integer, no percentile buffer); the 2×2 table
    * (above / not-above × group) is four BIGINT sums, and the
    * Yates-corrected χ² is one fixed IEEE tree over them (shared verbatim
    * with the oracle via [[moodChi2Sql]]). One fact shuffle to the grid;
    * everything after runs on the domain-bounded distribution.
    */
  def moodMedian(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val grid = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr(Stages.centsSql("value")).as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val med = Relational
      .gridRunningWeight(grid.select(col("x"), (col("a") + col("b")).as("c")), Nil, "x", "c")
      .agg(Relational.rankPick(expr(Stages.lowerMedianRankSql("n")), col("x")).as("median_cents"))
    grid
      .crossJoin(broadcast(med))
      .agg(
        max(col("median_cents")).as("median_cents"),
        sum(when(col("x") > col("median_cents"), col("a")).otherwise(0L)).as("a_above"),
        sum(when(col("x") <= col("median_cents"), col("a")).otherwise(0L)).as("a_below"),
        sum(when(col("x") > col("median_cents"), col("b")).otherwise(0L)).as("b_above"),
        sum(when(col("x") <= col("median_cents"), col("b")).otherwise(0L)).as("b_below"))
      .select(
        col("median_cents"), col("a_above"), col("a_below"),
        col("b_above"), col("b_below"),
        expr(moodChi2Sql).as("chi2"))
  }

  /** Yates-continuity-corrected 2×2 χ² over (a_above, a_below, b_above,
    * b_below) BIGINTs: N·(max(|ad−bc|−N/2, 0))² / (row/col margins).
    * Divisions-first so no product exceeds DOUBLE-exact range at corpus
    * scale; NULL when any margin is empty. Shared verbatim with the
    * oracle.
    */
  def moodChi2Sql: String =
    """CASE WHEN (a_above + a_below) = 0 OR (b_above + b_below) = 0
              OR (a_above + b_above) = 0 OR (a_below + b_below) = 0 THEN NULL
            ELSE CAST(a_above + a_below + b_above + b_below AS DOUBLE)
                 * greatest(abs(CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                                - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
                            - CAST(a_above + a_below + b_above + b_below AS DOUBLE) / 2.0, 0.0)
                 / CAST(a_above + a_below AS DOUBLE)
                 * (greatest(abs(CAST(a_above AS DOUBLE) * CAST(b_below AS DOUBLE)
                                 - CAST(a_below AS DOUBLE) * CAST(b_above AS DOUBLE))
                             - CAST(a_above + a_below + b_above + b_below AS DOUBLE) / 2.0, 0.0)
                    / CAST(b_above + b_below AS DOUBLE))
                 / CAST(a_above + b_above AS DOUBLE)
                 / CAST(a_below + b_below AS DOUBLE)
       END"""

  /** Cochran's Q test for equality of proportions across k related
    * binary treatments — here "did the user emit a high-value (≥
    * `caseCents`) event of type j", the repeated-measures sibling of
    * [[graft.text.TextAnalysis.mcnemar]]'s 2-treatment case. (Bare
    * presence is degenerate on real activity data — every active user
    * touches every type — so the indicator thresholds on value, like the
    * library's other caseCents case definitions.) One map-combined
    * (user × type) max aggregate, then the per-user row sums R_i and
    * per-type column sums C_j; the closed form
    * Q = (k−1)(k·ΣC_j² − T²)/(k·T − ΣR_i²) is pure BIGINT until one
    * division (T = ΣR_i = ΣC_j). ΣC_j² is a k-term integer sum —
    * order-free by construction; no per-user data survives the second
    * aggregate, so the output is one row at any corpus size.
    */
  def cochranQ(
      events: DataFrame,
      types: Seq[String] = Seq("view", "click", "purchase"),
      caseCents: Long = 10000L): DataFrame = {
    val k = types.length
    val pres = events
      .filter(col("event_type").isin(types: _*))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(expr(Stages.centsSql("value"))).as("mx"))
      .select(
        col("user_id"), col("event_type"),
        when(col("mx") >= caseCents, 1L).otherwise(0L).as("v"))
    val rows = pres
      .groupBy(col("user_id"))
      .agg(sum(col("v")).as("r"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("r")).as("t"),
        sum(col("r") * col("r")).as("sum_r2"))
    val cols2 = pres
      .groupBy(col("event_type"))
      .agg(sum(col("v")).as("c"))
      .agg(sum(col("c") * col("c")).as("sum_c2"))
    rows
      .crossJoin(broadcast(cols2))
      .select(
        col("n_users"), col("t"), col("sum_r2"), col("sum_c2"),
        expr(cochranQSql(k)).as("q_stat"))
  }

  /** Q = (k−1)(k·ΣC² − T²)/(kT − ΣR²) over BIGINTs; NULL when the
    * denominator degenerates (every user hit all k types, or none).
    * Shared verbatim with the oracle.
    */
  def cochranQSql(k: Int): String =
    s"""CASE WHEN $k * t - sum_r2 = 0 THEN NULL
             ELSE CAST(($k - 1) * ($k * sum_c2 - t * t) AS DOUBLE)
                  / CAST($k * t - sum_r2 AS DOUBLE)
        END"""

  /** Jonckheere–Terpstra test for an ORDERED alternative across the
    * event types (alphabetical order as the hypothesized ordering, the
    * same fixed ordering Page's L uses): JT = Σ_{i<j} U_ij, each U_ij
    * the Mann–Whitney count between ordered group pair (i, j), ties
    * counted half. Doubled to stay integer (2·JT = Σ 2·gt + eq), and
    * computed WITHOUT any group-pair join: one pass builds the
    * value-grid with per-type counts pivoted to columns, one bounded
    * window takes cumulative counts below each value, and the Σ_{i<j}
    * expansion is generated per grid row — the grid is value-domain-
    * bounded, so this is O(|grid|·k²) after a map-combined aggregate,
    * at any corpus size. z uses the no-tie JT variance (documented —
    * cent values are almost surely distinct) in shared expression text.
    */
  def jonckheereTerpstra(events: DataFrame, types: Seq[String]): DataFrame = {
    val k = types.length
    val grid = events
      .filter(col("event_type").isin(types: _*))
      .select(col("event_type"), expr(Stages.centsSql("value")).as("x"))
      .groupBy(col("x"))
      .agg(
        types.zipWithIndex.map { case (t, i) =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
        }.head,
        types.zipWithIndex.drop(1).map { case (t, i) =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i")
        }: _*)
    val below = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cummed = (0 until k).foldLeft(grid) { (df, i) =>
      df.withColumn(s"cum$i", coalesce(sum(col(s"c$i")).over(below), lit(0L)))
    }
    val rowTerm = (for {
      i <- 0 until k
      j <- i + 1 until k
    } yield lit(2L) * col(s"cum$i") * col(s"c$j") + col(s"c$i") * col(s"c$j"))
      .reduce(_ + _)
    val aggCols = sum(rowTerm).as("jt2") +: (0 until k).map(i => sum(col(s"c$i")).as(s"n$i"))
    val agged = cummed.agg(aggCols.head, aggCols.tail: _*)
    val nTotal = (0 until k).map(i => col(s"n$i")).reduce(_ + _)
    val sumSq = (0 until k).map(i => col(s"n$i") * col(s"n$i")).reduce(_ + _)
    // the variance cubics run in DOUBLE (fixed k-term expression tree,
    // same text in the oracle): the BIGINT form n²(2n+3) wraps past
    // 2^63 at n ≈ 1.66e6 filtered rows — far below real corpus sizes —
    // and the term only feeds a sqrt, where last-ulp exactness buys
    // nothing. jt2/e2 stay BIGINT-exact to their own ~3e9-row bound
    // (they are pair counts; the z numerator is exact up to there).
    val sumSq23 = (0 until k)
      .map(i =>
        col(s"n$i").cast("double") * col(s"n$i").cast("double") *
          (lit(2.0) * col(s"n$i").cast("double") + lit(3.0)))
      .reduce(_ + _)
    agged
      .withColumn("n_total", nTotal)
      .withColumn("sum_sq", sumSq)
      .withColumn("sum_sq23", sumSq23)
      .select(
        col("n_total"),
        col("jt2"),
        expr("(n_total * n_total - sum_sq) div 2").as("e2"),
        expr(
          """CAST(jt2 - (n_total * n_total - sum_sq) div 2 AS DOUBLE)
             / nullif(2.0 * sqrt((CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                            * (2.0 * CAST(n_total AS DOUBLE) + 3.0) - sum_sq23) / 72.0), 0.0E0)""")
          .as("z"))
  }

  /** Cliff's delta effect size between purchase and click values:
    * δ = (#{a>b} − #{a<b}) / (n_a·n_b), the ordinal dominance measure
    * behind Mann–Whitney, with the conventional |δ| magnitude bands
    * (0.147 / 0.33 / 0.474). gt/lt come from the same value-grid +
    * bounded cumulative window as [[Analytics.mannWhitney]] — no pair
    * join — and stay BIGINT-exact; δ is one shared division.
    */
  def cliffsDelta(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val grid = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr(Stages.centsSql("value")).as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val below = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    grid
      .withColumn("cb", coalesce(sum(col("b")).over(below), lit(0L)))
      .withColumn("ca", coalesce(sum(col("a")).over(below), lit(0L)))
      .agg(
        sum(col("a")).as("na"),
        sum(col("b")).as("nb"),
        sum(col("a") * col("cb")).as("gt"),
        sum(col("b") * col("ca")).as("lt"))
      .select(
        col("na"), col("nb"), col("gt"), col("lt"),
        expr("CAST(gt - lt AS DOUBLE) / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE), 0.0)").as("delta"),
        expr(
          """CASE WHEN abs(CAST(gt - lt AS DOUBLE) / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE), 0.0)) < 0.147 THEN 'negligible'
                  WHEN abs(CAST(gt - lt AS DOUBLE) / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE), 0.0)) < 0.33 THEN 'small'
                  WHEN abs(CAST(gt - lt AS DOUBLE) / nullif(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE), 0.0)) < 0.474 THEN 'medium'
                  ELSE 'large' END""").as("magnitude"))
  }

  /** Closed-form Σ_{r=lo..hi} min(r, N+1−r) — the Ansari–Bradley score
    * mass of a contiguous rank range, split at the midpoint m=(N+1) div 2
    * into two arithmetic series. Shared verbatim with the oracle.
    */
  def abScoreRangeSql(lo: String, hi: String): String = {
    val m = "((nn + 1) div 2)"
    val b1 = s"least($hi, $m)"
    val a2 = s"greatest($lo, $m + 1)"
    s"""(CASE WHEN $b1 >= $lo THEN (($lo + $b1) * ($b1 - $lo + 1)) div 2 ELSE CAST(0 AS BIGINT) END
       + CASE WHEN $hi >= $a2 THEN (nn + 1) * ($hi - $a2 + 1) - (($a2 + $hi) * ($hi - $a2 + 1)) div 2 ELSE CAST(0 AS BIGINT) END)"""
  }

  /** Denominator of the exact fractional split below: per-block
    * remainders are scaled by 10^15 before the integer division, so the
    * one rounding step per block floors at the 15th decimal — an error
    * both engines floor IDENTICALLY (exact integers in, exact integers
    * out), unlike a float sum whose reassociation noise differs by
    * partition order.
    */
  val abFracScale = "1000000000000000"

  /** Per-block EXACT integer split of the two Ansari–Bradley midrank
    * sums Σ a·s/cnt and Σ s²/cnt (columns a, s_blk, cnt must be in
    * scope; all non-negative, so truncating `div` ≡ floor `//`). Each
    * rational term splits as quotient + scaled-remainder — four integer
    * columns an order-independent wide-integer SUM reassembles into a
    * double at the very end, replacing the partition-order-dependent
    * double sums that could drift past the oracle tolerance at large N
    * (terms scale ~N²). `wide` is the engine's 128-bit integer type
    * (Spark `DECIMAL(38,0)`, DuckDB `HUGEINT`); the oracle twin
    * rewrites ` div ` to ` // `. Every intermediate is bounded by
    * N³/2 < 10^38 for N ≤ 4.3e9 — the same pooled-row domain the BIGINT
    * s_blk/s_tot already impose — and every `div` quotient fits BIGINT
    * on that domain (Spark's IntegralDivide returns LONG).
    */
  def abSplitTermsSql(wide: String): Seq[String] = Seq(
    s"(CAST(a AS $wide) * s_blk) div cnt AS ab_i",
    s"(((CAST(a AS $wide) * s_blk) % cnt) * $abFracScale) div cnt AS ab_f",
    s"CAST(s_blk div cnt AS $wide) * s_blk + (CAST(s_blk % cnt AS $wide) * s_blk) div cnt AS ss2_i",
    s"(((CAST(s_blk % cnt AS $wide) * s_blk) % cnt) * $abFracScale) div cnt AS ss2_f")

  /** Reassembly of the split sums into the two double statistics —
    * shared verbatim with the oracle (exact wide-integer sums in, one
    * correctly-rounded double cast + one scaled add out, so the doubles
    * are bit-identical across engines).
    */
  def abReassembleSql: Seq[String] = Seq(
    s"CAST(ab_is AS DOUBLE) + CAST(ab_fs AS DOUBLE) / 1.0e15 AS ab_stat",
    s"CAST(ss2_is AS DOUBLE) + CAST(ss2_fs AS DOUBLE) / 1.0e15 AS ss2")

  /** Ansari–Bradley scale test between purchase and click values — the
    * rank test for dispersion differences that pairs with Mann–Whitney's
    * location test. Scores min(r, N+1−r) assign from both ends of the
    * pooled ordering; TIES take MIDRANK scores (every member of a tied
    * value block carries the block's average score — the same treatment
    * [[mannWhitney]] uses), with the null mean/variance computed from
    * the realized score sums, E = na·s̄ and
    * Var = na·nb·(N·Σs² − (Σs)²)/(N²(N−1)) — the general two-sample
    * linear-rank formulas, exact under any tie pattern. (An earlier
    * spelling placed all of B before A inside each tie block and kept
    * the NO-tie closed-form moments: on tied data that combination
    * biases z, because the statistic was no longer exchangeable while
    * the formulas assumed it.) There is NO corpus-scale sort: each
    * value-grid cell occupies a contiguous known rank range (from
    * cumulative grid counts), its TOTAL score mass is the closed-form
    * arithmetic series [[abScoreRangeSql]], and the per-block average
    * spreads it — O(|grid|) after a map-combined aggregate. Block masses
    * and Σs stay BIGINT-exact; the midrank sums Σa·s/cnt and Σs²/cnt
    * are EXACT wide-integer quotient/remainder splits
    * ([[abSplitTermsSql]]) reassembled into doubles once at the end —
    * order-independent on both engines, where the earlier per-block
    * double-sum aggregates carried partition-order reassociation noise
    * that could pass the oracle's 1e-6 at large N.
    */
  def ansariBradley(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    val grid = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), expr(Stages.centsSql("value")).as("x"))
      .groupBy(col("x"))
      .agg(
        sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("b"))
    val below = Window
      .partitionBy(lit(1))
      .orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = grid
      .withColumn("p", coalesce(sum(col("a") + col("b")).over(below), lit(0L)))
      .crossJoin(grid.agg((sum(col("a")) + sum(col("b"))).as("nn")))
      .withColumn("cnt", col("a") + col("b"))
      .withColumn("lo", col("p") + lit(1L))
      .withColumn("hi", col("p") + col("cnt"))
      .withColumn("s_blk", expr(abScoreRangeSql("lo", "hi")))
    scored
      // Exact quotient/remainder split of a·s/cnt and s²/cnt per block
      // (see [[abSplitTermsSql]]): the sums below are wide-integer
      // EXACT, so ab_stat/ss2 no longer depend on partition order — the
      // repo's exact-sufficient-statistic discipline, which the earlier
      // double-sum aggregates violated (ADVICE r9).
      .selectExpr(("*" +: abSplitTermsSql("DECIMAL(38,0)")): _*)
      .agg(
        sum(col("a")).as("na"),
        sum(col("b")).as("nb"),
        max(col("nn")).as("nn"),
        sum(col("s_blk")).as("s_tot"),
        sum(expr("CAST(ab_i AS DECIMAL(38,0))")).as("ab_is"),
        sum(expr("CAST(ab_f AS DECIMAL(38,0))")).as("ab_fs"),
        sum(col("ss2_i")).as("ss2_is"),
        sum(expr("CAST(ss2_f AS DECIMAL(38,0))")).as("ss2_fs"))
      .selectExpr((Seq("na", "nb", "nn", "s_tot") ++ abReassembleSql): _*)
      .select(
        col("na"), col("nb"), col("ab_stat"),
        expr("CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE)").as("e_ab"),
        expr("""ab_stat - CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE)""")
          .as("dev_ab"),
        // nullif guards: nn=1 zeroes the inner denominator and an
        // all-tied / one-sided sample zeroes the sqrt — both are NULL in
        // DuckDB's bare division but ANSI throws in Spark (extreme-
        // fixture sweep, r10).
        expr(
          """(ab_stat - CAST(na AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(nn AS DOUBLE)) /
             nullif(sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  * (CAST(nn AS DOUBLE) * ss2 - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE))
                  / nullif(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE), 0.0)), 0.0)""")
          .as("z"))
  }

  /** Goodman–Kruskal γ, Somers' d_yx, and Kendall τ-a between order
    * quantity and extended-price bucket (10-dollar bins) — the ordinal-
    * association battery over a DOMAIN-BOUNDED 2-D grid: concordant /
    * discordant / tied-pair counts come from a grid×grid join (each
    * unordered pair counted once at its lexicographically lower cell),
    * so the work is O(|grid|²) regardless of corpus size, and every
    * count is BIGINT-exact. The three coefficients differ only in their
    * denominators (γ drops all ties, d_yx keeps y-ties, τ-a uses all
    * pairs) — one pass emits all three as shared divisions.
    */
  def ordinalAssociation(lineitem: DataFrame): DataFrame = {
    val cells = lineitem
      .groupBy(
        expr(Stages.lineitemQtySql).as("q"),
        expr(s"${Stages.centsSql("l_extendedprice")} div 100000").as("p"))
      .agg(count(lit(1)).as("n"))
    val c1 = cells.select(col("q").as("q1"), col("p").as("p1"), col("n").as("n1"))
    val c2 = cells.select(col("q").as("q2"), col("p").as("p2"), col("n").as("n2"))
    val pairCounts = c1
      .crossJoin(c2)
      .agg(
        sum(when(col("q2") > col("q1") && col("p2") > col("p1"), col("n1") * col("n2"))
          .otherwise(0L)).as("conc"),
        sum(when(col("q2") > col("q1") && col("p2") < col("p1"), col("n1") * col("n2"))
          .otherwise(0L)).as("disc"),
        sum(when(col("q2") === col("q1") && col("p2") > col("p1"), col("n1") * col("n2"))
          .otherwise(0L)).as("tie_x"),
        sum(when(col("p2") === col("p1") && col("q2") > col("q1"), col("n1") * col("n2"))
          .otherwise(0L)).as("tie_y"))
    val totals = cells.agg(
      sum(col("n")).as("n_rows"),
      sum(expr("(n * (n - 1)) div 2")).as("tie_xy"))
    pairCounts
      .crossJoin(totals)
      .select(
        col("n_rows"),
        col("conc"),
        col("disc"),
        col("tie_x"),
        col("tie_y"),
        col("tie_xy"),
        expr("CAST(conc - disc AS DOUBLE) / nullif(CAST(conc + disc AS DOUBLE), 0.0E0)").as("gamma"),
        expr("CAST(conc - disc AS DOUBLE) / nullif(CAST(conc + disc + tie_y AS DOUBLE), 0.0E0)").as("somers_d_yx"),
        expr("CAST(conc - disc AS DOUBLE) / nullif(CAST((n_rows * (n_rows - 1)) div 2 AS DOUBLE), 0.0E0)").as("tau_a"))
  }

  /** Q–Q table between purchase and click value distributions: both
    * empirical quantile functions evaluated at p = 5%..95% (step 5)
    * with the explicit type-1 rank rule r = (p·(n−1)) div 100 + 1 —
    * exact order statistics over each group's value→count grid (one
    * bounded cumulative window per group, never a corpus sort), so
    * every emitted quantile is an exact integer both engines agree on.
    * The scatter of (qa, qb) against the diagonal is the
    * distribution-shift diagnostic Q–Q plots draw.
    */
  def qqTable(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    def quantiles(t: String, alias: String): DataFrame = {
      val grid = events
        .filter(col("event_type") === t)
        .groupBy(expr(Stages.centsSql("value")).as("x"))
        .agg(count(lit(1)).as("c"))
      Relational
        .gridRunningWeight(grid, Nil, "x", "c")
        .crossJoin(
          events.sparkSession.range(1)
            .select(explode(expr("sequence(5, 95, 5)")).as("p")))
        .groupBy(col("p").cast("long").as("p"))
        .agg(Relational.rankPick(expr(Stages.type1RankSql("p", "n")), col("x")).as(alias))
    }
    quantiles(typeA, "qa_cents")
      .join(quantiles(typeB, "qb_cents"), Seq("p"))
      .select(
        col("p"),
        col("qa_cents"),
        col("qb_cents"),
        (col("qa_cents") - col("qb_cents")).as("gap_cents"))
  }

  /** Kitagawa–Oaxaca–Blinder decomposition of the BUILDING-vs-MACHINERY
    * gap in mean order value, stratified by nation: per nation g the gap
    * contribution splits into a composition term (w_Ag − w_Bg)·ȳ_Bg
    * (segment A buys from different nations) and a rate term
    * w_Ag·(ȳ_Ag − ȳ_Bg) (segment A pays differently within a nation).
    * Only nations observed in BOTH segments enter, and the segment
    * totals are taken over those common nations so the per-nation terms
    * sum exactly to the (common-nation) mean gap — the identity the spec
    * pins. All counts/sums are one integer pass; every double is a
    * shared-text division of exact BIGINTs, emitted PER NATION (no
    * cross-group float sum — the 25-row reduction happens driver-side in
    * the spec, not in the engine, so nothing order-dependent ships).
    * Two broadcast-sized dimension joins; the fact table aggregates
    * map-side to (segment × nation) before anything else.
    */
  def oaxacaDecomposition(
      customer: DataFrame,
      orders: DataFrame,
      nation: DataFrame): DataFrame = {
    val base = orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .groupBy(col("c_mktsegment").as("seg"), col("n_name"))
      .agg(
        count(lit(1)).cast("long").as("cnt"),
        expr(s"sum(${Stages.centsSql("o_totalprice")})").as("s"))
    val aSide = base.filter(col("seg") === "BUILDING")
      .select(col("n_name"), col("cnt").as("n_a"), col("s").as("sum_a"))
    val bSide = base.filter(col("seg") === "MACHINERY")
      .select(col("n_name"), col("cnt").as("n_b"), col("s").as("sum_b"))
    val common = aSide.join(bSide, Seq("n_name"))
    val totals = common.agg(
      sum(col("n_a")).as("tot_a"),
      sum(col("n_b")).as("tot_b"))
    common
      .crossJoin(totals)
      .select(
        col("n_name"),
        col("n_a"),
        col("n_b"),
        col("sum_a"),
        col("sum_b"),
        expr("CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0").as("mean_a_dollars"),
        expr("CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0").as("mean_b_dollars"),
        expr("CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE)").as("w_a"),
        expr("CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE)").as("w_b"),
        expr(
          """(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE) - CAST(n_b AS DOUBLE) / CAST(tot_b AS DOUBLE))
             * (CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0)""").as("explained"),
        expr(
          """(CAST(n_a AS DOUBLE) / CAST(tot_a AS DOUBLE))
             * (CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0
                - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0)""").as("unexplained"))
  }
}
