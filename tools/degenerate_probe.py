#!/usr/bin/env python3
"""Degenerate-fixture oracle sweep (VERDICT r9 item 3) — the executable
form of the manual gate-blind review passes.

The DuckDB gate only sees fixtures the driver generated; engine/oracle
divergences that bind on shapes those fixtures never produce (ANSI 0/0,
CAST_INVALID_INPUT, `//`-vs-floor, ln(0), empty-input scalar subqueries)
survive every round until someone reads for them. This probe finds them
mechanically: it rewrites every fixture table into four degenerate
variants and runs the FULL query registry on both engines over each,
asserting per query that the engines either AGREE on a result or BOTH
fail loudly. One engine succeeding while the other throws — or both
succeeding with different values — is exactly the gate-blind class.

Variants (schema-preserving, built with pyarrow so both engines re-read
the same files):
  empty    — zero rows per table
  single   — the first row of each table
  dups     — the first row repeated 64x (every key collides; every
             DISTINCT/grid collapses to one value; all-tied rank paths)
  nullcol  — first 100 rows with EVERY column nulled (all fixture
             columns are nullable); null keys, null timestamps, 0-grids
  extreme  — first 48 rows with every column pushed to its type's
             domain edges while HONORING the fixture contracts
             (unique non-null keys, non-null ts/payload/embedding):
             signed zero-crossing integer keys with ±1e6 outliers;
             pre-1970 / negative-fractional-epoch / epoch-0 / 2099
             timestamps (truncate-vs-floor, biased-lpad domains);
             ±0.0 / ±9.9e5 / 1e-9 doubles (log/sqrt-of-negative,
             signed-zero, ANSI guards); empty / non-BMP-unicode /
             2000-char / whitespace-framed strings (code-point vs
             byte arithmetic; events.props becomes malformed JSON →
             from_json NULL paths); zero / constant / tiny / negated
             embedding vectors (norm-0 divisions, tie cosines)

Usage: python3 tools/degenerate_probe.py [sfDir] [workDir] [q1,q2,...] [v1,v2,...]
  sfDir   default /root/testdata/sf0.001
  workDir default /tmp/degenerate_probe (wiped per run)
  q1,...  optional comma-separated query subset (fast re-check while
          sweeping a divergence class; the round receipt must come from
          a FULL run). Pass '' to keep all queries while subsetting
          variants.
  v1,...  optional comma-separated variant subset (same caveat)

Requires a compiled target/scala-2.13/classes (run `sbt compile` first);
Spark runs through tools/spark_main.sh, the launcher tools/bench_subset.sh uses.

Exit 0 when every (variant, query) cell is OK/BOTH_FAIL or allowlisted
AND no cell is SLOW (>= SLOW_CELL_S wall seconds on a tiny fixture — an
asymptotic suspect even when the values agree); exit 1 otherwise, with
each divergence/slow cell printed. ALLOWED below records ACCEPTED
divergences — each entry must carry the reason the behaviors
legitimately differ and a pointer to the code comment documenting it.
"""
import sys, os, json, glob, shutil, subprocess, hashlib
import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
VARIANTS = ("empty", "single", "dups", "nullcol", "extreme")

# (variant, query) -> documented reason. Populated from the r10 full
# sweep (originally 229 divergent cells; the 150 CRASH-class cells —
# ANSI DIVIDE_BY_ZERO on 58 statistics, typed-aggregate NPEs on null
# vectors, element_at(0)/slice(-1) on empty series, NULL_MAP_KEY, a
# Long.MinValue sentinel leaking as a price — were all fixed lock-step
# with nullif/CASE guards shared between engine and oracle; the 18
# DUCK0X cells went when the oracle hash became NULL-safe). The 60
# cells below are ACCEPTED divergences: every one arises from a variant
# that VIOLATES a documented fixture contract (unique keys, non-null
# key/ts/payload/embedding columns) or from the empty-corpus
# output-shape convention, and in each the surviving behavior on each
# engine is individually sane. The real gate's fixtures honor the
# contracts, so none of these can bind there.
_R10_CLASSES = {
    # Empty corpus: Spark's PropagateEmptyRelation emits zero rows for
    # CUBE/ROLLUP/GROUPING SETS where DuckDB emits the SQL-standard
    # grand-total row; conversely the engine's fold/audit shapes seed a
    # zero-row summary where DuckDB's CTE chain goes quiet. Output-shape
    # convention only — no values disagree on any non-empty input.
    "EMPTY": [
        "empty/q_bandit_replay", "empty/q_cube", "empty/q_grouping_sets",
        "empty/q_lis", "empty/q_rollup", "empty/q_rollup_percentiles",
        "empty/q_spacesaving", "empty/q_zone_map"],
    # Duplicate keys (doc_id/vec_id uniqueness violated): the oracle
    # twins' key-JOIN formulations fan out n×n under duplicate keys
    # while the engine's per-row aggregates do not — the engine output
    # is the contract-correct reading.
    "DUPKEY": [
        "dups/q_cov_matrix", "dups/q_dedup_clusters", "dups/q_frame_features",
        "dups/q_payload_entropy", "dups/q_pca2", "dups/q_simhash_chunk_stats"],
    # (No DUCK0X class: the oracles' md5 hash, Stages.duckMd5BitsSql,
    # joins its '0x' with `||`, so a NULL key hashes to NULL as in Spark
    # instead of casting a bare '0x'. Its 18 nullcol cells agree. A key
    # that DuckDB's own concat() builds past a NULL part still differs;
    # those cells are NULLKEY below.)
    # DuckDB's list_inner_product refuses NULL vectors loudly; the
    # engine skips them (the SQL aggregate convention, also what the
    # r10-fixed GramAggregator does). Null embeddings violate the
    # vector-table contract.
    "DUCKVEC": [
        "nullcol/q_ann_ivf", "nullcol/q_ann_ivf2", "nullcol/q_ann_ivfpq",
        "nullcol/q_ann_lsh", "nullcol/q_ann_lsh_mp", "nullcol/q_ann_recall",
        "nullcol/q_embed_norms", "nullcol/q_ivf_balance", "nullcol/q_ivf_distortion",
        "nullcol/q_ivf_purity", "nullcol/q_kmeans_assign", "nullcol/q_norm_stats",
        "nullcol/q_recall_curve", "nullcol/q_rrf", "nullcol/q_silhouette"],
    # All-NULL key/ts/label/payload columns: engine and twin differ in
    # inner NULL propagation (group-by-null keeps a group where a join
    # drops it; concat_ws '' vs string_agg NULL; md5 of '' vs NULL;
    # null-ordering in rank windows). Each side is individually sane;
    # aligning them would mean modeling every engine builtin's NULL
    # convention inside the other engine's text for inputs the
    # contracts exclude.
    "NULLKEY": [
        "nullcol/q_approx_percentile", "nullcol/q_array_funcs", "nullcol/q_boot_median",
        "nullcol/q_centroids", "nullcol/q_conformal", "nullcol/q_cv_linreg",
        "nullcol/q_dedup_clusters", "nullcol/q_frame_energy", "nullcol/q_full_outer",
        "nullcol/q_heavy_hitters", "nullcol/q_holt_winters",
        "nullcol/q_hourly_count_by_borough", "nullcol/q_hourly_trip_count",
        "nullcol/q_lift", "nullcol/q_merkle", "nullcol/q_pack",
        "nullcol/q_payload_entropy", "nullcol/q_pii_scrub", "nullcol/q_poisson_boot",
        "nullcol/q_prefix_dedup", "nullcol/q_rare_collapse", "nullcol/q_rendezvous",
        "nullcol/q_repetition", "nullcol/q_rocchio", "nullcol/q_session_native",
        "nullcol/q_simhash_chunk_stats", "nullcol/q_spacesaving",
        "nullcol/q_target_encoding", "nullcol/q_top2_agg", "nullcol/q_window_sliding",
        "nullcol/q_winnow"],
}
ALLOWED: dict = {
    tuple(cell.split("/")): reason
    for reason, cells in _R10_CLASSES.items()
    for cell in cells
}

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


import datetime as _dt

_EXTREME_TS = [  # cycle; two slots keep the original for realistic spread
    _dt.datetime(1950, 6, 15, 12, 34, 56, 789012),   # negative epoch + frac
    _dt.datetime(1969, 12, 31, 23, 59, 59, 999999),  # -1 µs: floor vs trunc
    _dt.datetime(1970, 1, 1, 0, 0, 0),               # epoch zero
    _dt.datetime(2099, 12, 31, 23, 59, 59),          # far future
]
_EXTREME_STR = [  # cycle; one slot keeps the original
    "",                         # empty string (length/substr/split edges)
    "\U0001f389\U0001d518ñ中",  # non-BMP + BMP unicode
    "x" * 2000 + "\U0001f389",  # long payload ending in a surrogate pair
    "a\nb\tc d",                # embedded newline/tab/space
    "  pad  ",                  # whitespace framing (trim/split edges)
]


def _extreme_table(tab: pa.Table) -> pa.Table:
    """Push every column to its type's domain edges, preserving the
    fixture contracts the other variants deliberately violate: integer
    keys stay UNIQUE and non-null (a strictly increasing signed ladder
    with ±1e6 endpoints — dup keys are the `dups` variant's job),
    ts/payload/embedding stay non-null. Rows that keep original values
    are interleaved so literal-predicate queries still see real data."""
    n = min(48, tab.num_rows)
    tab = tab.slice(0, n)
    cols = {}
    for f in tab.schema:
        orig = tab.column(f.name).to_pylist()
        vals = []
        for i, o in enumerate(orig):
            k = i % 6
            if pa.types.is_integer(f.type):
                v = (i - n // 2) * 1009 + 7  # signed, unique, crosses 0
                if i == 0:
                    v = -1000003
                elif i == n - 1:
                    v = 1000003
            elif pa.types.is_floating(f.type):
                v = [0.0, -0.0, 987654.321, -987654.321, 1e-9, o][k]
            elif pa.types.is_timestamp(f.type):
                v = _EXTREME_TS[k] if k < 4 else o
            elif pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
                v = _EXTREME_STR[k] if k < 5 else o
            elif pa.types.is_list(f.type) and o is not None:
                d = len(o)
                v = [[0.0] * d, [100.0] * d, [1e-7] * d,
                     [-x for x in o], o, o][k]
            else:
                v = o
            vals.append(v)
        cols[f.name] = pa.array(vals, type=f.type)
    return pa.table(cols, schema=tab.schema)


def build_variant(src_dir: str, out_dir: str, variant: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        tab = pq.read_table(f"{src_dir}/{t}.parquet")
        if variant == "empty":
            out = tab.slice(0, 0)
        elif variant == "single":
            out = tab.slice(0, 1)
        elif variant == "dups":
            one = tab.slice(0, 1)
            out = pa.concat_tables([one] * 64)
        elif variant == "nullcol":
            n = min(100, tab.num_rows)
            out = pa.table(
                {f.name: pa.nulls(n, type=f.type) for f in tab.schema},
                schema=tab.schema)
        elif variant == "extreme":
            out = _extreme_table(tab)
        else:
            raise ValueError(variant)
        pq.write_table(out, f"{out_dir}/{t}.parquet")


# A query that takes this long on a <=100-row fixture is an asymptotic
# bug (value-range-driven row generation, quadratic window frames — the
# gapInterpolate class), not machine noise: the whole 498-query registry
# clears a variant in minutes, so fixed overhead is ~seconds per query.
SLOW_CELL_S = 60.0


def run_spark_verify(variant_dir: str, out_dir: str, only: str = ""):
    """Run graft.Verify over the variant; return ({query: error_first_line},
    {query: wall_seconds}) — queries with output parquet are successes."""
    cmd = ([f"{REPO}/tools/spark_main.sh", f"{REPO}/target/scala-2.13/classes", "4g",
            "graft.Verify", variant_dir, out_dir] +
           ([only] if only else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       timeout=3600)
    errs, times = {}, {}
    for line in r.stderr.splitlines():
        if not line.startswith("[verify] "):
            continue
        body = line[len("[verify] "):]
        if " failed: " in body:
            name, msg = body.split(" failed: ", 1)
            errs[name] = msg.strip()[:200]
        elif " ok in " in body and body.endswith("s"):
            name, sec = body.split(" ok in ", 1)
            try:
                times[name] = float(sec[:-1])
            except ValueError:
                pass
    if r.returncode != 0 and not os.path.exists(f"{out_dir}/oracle_sql.json"):
        raise RuntimeError(f"Verify died before writing oracle_sql.json "
                           f"(rc={r.returncode}): {r.stderr[-500:]}")
    return errs, times


def canon(df: pd.DataFrame) -> str:
    # Same canonicalization as tools/check_oracle.py / the driver.
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for _, row in df.iterrows():
        rows.append("\x1f".join(
            "" if pd.isna(v)
            # v == 0 folds -0.0 into 0.0 before formatting: both engines can
            # legitimately produce either signed zero and %.6f distinguishes.
            else (f"{(0.0 if v == 0 else v):.6f}"
                  if isinstance(v, (float, np.floating)) else str(v))
            for v in row))
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/degenerate_probe"
    only = sys.argv[3] if len(sys.argv) > 3 else ""
    variants = tuple(sys.argv[4].split(",")) if len(sys.argv) > 4 else VARIANTS
    for v in variants:
        if v not in VARIANTS:
            raise SystemExit(f"unknown variant {v!r} (have {VARIANTS})")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n_cells = n_ok = n_both_fail = n_allowed = 0
    diverged = []
    slow = []
    for variant in variants:
        vdir = f"{work}/{variant}/tables"
        vout = f"{work}/{variant}/out"
        build_variant(sf_dir, vdir, variant)
        print(f"== variant {variant}: running Spark Verify...", flush=True)
        spark_errs, spark_times = run_spark_verify(vdir, vout, only)
        for name, sec in sorted(spark_times.items(), key=lambda kv: -kv[1]):
            if sec >= SLOW_CELL_S:
                slow.append((variant, name, sec))
                print(f"  SLOW {variant}/{name}: {sec:.1f}s on a tiny fixture "
                      f"— asymptotic suspect (value-range generation or a "
                      f"quadratic frame)", flush=True)
        oracles = json.load(open(f"{vout}/oracle_sql.json"))
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{vdir}/{t}.parquet'")
        for name, sql in sorted(oracles.items()):
            n_cells += 1
            spark_files = sorted(glob.glob(f"{vout}/{name}/*.parquet"))
            spark_ok = name not in spark_errs and bool(spark_files)
            try:
                duck_df = con.execute(sql).df()
                duck_ok, duck_msg = True, ""
            except Exception as e:
                duck_ok, duck_msg = False, str(e).splitlines()[0][:200]
                duck_df = None
            if spark_ok and duck_ok:
                spark_df = pd.concat([pd.read_parquet(p) for p in spark_files]) \
                    if spark_files else pd.DataFrame()
                same = (len(spark_df) == len(duck_df)
                        and sorted(spark_df.columns) == sorted(duck_df.columns)
                        and canon(spark_df) == canon(duck_df))
                if same:
                    n_ok += 1
                    continue
                detail = (f"values differ: spark {len(spark_df)} rows vs "
                          f"duck {len(duck_df)} rows")
            elif not spark_ok and not duck_ok:
                n_both_fail += 1  # both engines refused, loudly — agreement
                continue
            elif spark_ok:
                detail = f"spark OK, duck FAILED: {duck_msg}"
            else:
                detail = f"duck OK, spark FAILED: {spark_errs.get(name, 'no output')}"
            if (variant, name) in ALLOWED:
                n_allowed += 1
                print(f"  ALLOWED {variant}/{name}: {ALLOWED[(variant, name)]}")
                continue
            diverged.append((variant, name, detail))
            print(f"  DIVERGE {variant}/{name}: {detail}", flush=True)
        con.close()
        print(f"== variant {variant} done", flush=True)
    print(f"== cells={n_cells} agree={n_ok} both_fail={n_both_fail} "
          f"allowed={n_allowed} diverged={len(diverged)} slow={len(slow)}")
    # SLOW cells fail the probe alongside divergences: a correct answer
    # computed in O(n²) is still a 100 TB outage (the r10 shrinking-frame
    # class survived nine value-only rounds).
    sys.exit(1 if (diverged or slow) else 0)


if __name__ == "__main__":
    main()
