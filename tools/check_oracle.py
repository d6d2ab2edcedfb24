#!/usr/bin/env python3
"""Strict local replica of the driver's correctness gate.

The driver reads the Spark result parquet with pandas/pyarrow, runs the
oracle SQL in DuckDB (→ .df()), sorts columns by name, sort_values rows
by all columns, then hash-compares VALUES — which is dtype-sensitive:
int64 3 vs float64 3.0 differ, Decimal objects vs float64 differ, and an
array (ndarray) cell makes sort_values throw. Round 1 lost decimal_sum /
sessionize / array_agg_statuses exactly this way while the lenient local
check passed, so this replica mimics the strict behavior.

Usage: check_oracle.py [--digest-over=N] [--chain-cache]
                       <sfDir> <verifyOutDir> [query ...]

--chain-cache (round 11): materialize the shared murmur3 pair-graph
chain (Dedup.MurmurSql.pairGraphChainSql, byte-identical across its
~20 consumer oracles) ONCE as a temp table and rewrite the consumers
onto it — turns the slice-scale family sweep from ~20 min/key into one
chain evaluation plus cheap downstreams. Semantically identity-
preserving: the cache is built from the exact fragment it replaces.

--digest-over=N (round-9 verdict item 3): results larger than N rows
are compared by an exact DuckDB-side digest instead of the cell-wise
pandas walk — the Spark result parquet is read INTO DuckDB, both sides
are projected in sorted-column order, and (count, sum(hash(cols))) must
agree. Order-independent, no pandas materialization — a 60M-row fanout
digests in seconds where the cell walk was the reason 19 sf10 keys were
skipped. Type discipline (round-10 advice item 1): both sides' DESCRIBE
types are compared per column and a mismatch FAILS, with two sanctioned
widenings: integer-family widths (TINYINT..HUGEINT) hash through a
lossless CAST to HUGEINT on BOTH sides (mirroring the cell walk's
repr() semantics where int64 3 == int32 3 but 3 != 3.0 != Decimal('3')),
and TIMESTAMP vs TIMESTAMP WITH TIME ZONE hash through TIMESTAMPTZ
(lossless under the pinned-UTC session — Spark writes instant parquet,
oracles compute naive UTC). FLOAT vs DOUBLE, DECIMAL scale drift,
DATE vs TIMESTAMP etc. are failures, never cast away. Without the flag the compare path is
unchanged (driver parity).

The DuckDB session timezone is pinned to UTC on BOTH paths (digest and
cell walk): Spark writes TIMESTAMP-with-tz parquet under the UTC
session convention, so on a non-UTC host the unpinned legacy walk would
render instants shifted — the pin is driver parity (the driver runs
UTC), not a digest-only concern.
"""
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

argv = [a for a in sys.argv[1:] if not a.startswith("--")]
digest_over = None
for a in sys.argv[1:]:
    if a.startswith("--digest-over"):
        digest_over = int(a.split("=", 1)[1])
sfdir, outdir = argv[0], argv[1]
only = set(argv[2:])
con = duckdb.connect()
# instants must render/cast identically on both sides of EITHER compare
# path (Spark writes TIMESTAMP-with-tz parquet; oracles compute naive
# TIMESTAMPs under the UTC session convention) — see the docstring: the
# pin deliberately applies to the cell walk too, for driver parity
con.execute("SET TimeZone='UTC'")
# sf1-scale closure oracles (recursive-CTE pair-graph replicas) spill
# 60-100 GB when DuckDB runs at its default memory budget; on a
# 128 GiB host an explicit higher limit + a pinned temp dir lets them
# complete in RAM (round-7 blocker: three keys never finished because
# concurrent spills exhausted the ~80 GB scratch disk). Env-tunable so
# the cheap sweeps stay at defaults.
if "GRAFT_DUCK_MEM" in __import__("os").environ:
    con.execute(f"SET memory_limit='{__import__('os').environ['GRAFT_DUCK_MEM']}'")
if "GRAFT_DUCK_TMP" in __import__("os").environ:
    con.execute(f"SET temp_directory='{__import__('os').environ['GRAFT_DUCK_TMP']}'")
if "GRAFT_DUCK_THREADS" in __import__("os").environ:
    con.execute(f"SET threads TO {__import__('os').environ['GRAFT_DUCK_THREADS']}")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    # driver testdata is one file per table; GenScale-produced scale
    # steps are Spark-written DIRECTORIES named <t>.parquet
    p = Path(f"{sfdir}/{t}.parquet")
    # partial corpora are legitimate (`GenScale vec` writes embeddings
    # only, `GenScale docs` documents only); DuckDB binds views EAGERLY,
    # so creating a view over a missing file crashes the whole run
    # before any query. Skip missing tables — a query that references
    # one fails individually with a clear "table not found".
    if not p.exists():
        print(f"note: {t}.parquet absent under {sfdir} — view skipped",
              flush=True)
        continue
    src = f"{p}/*.parquet" if p.is_dir() else str(p)
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())

# --chain-cache (round 11): the ~20 pair-graph consumer oracles each
# embed the IDENTICAL Dedup.MurmurSql.pairGraphChainSql fragment
# (ptoks ... pairs), and DuckDB evaluates it per query — ~15-25 min
# per key at the 250k-doc slice, which made the full-family sweep
# infeasible. The fragment is one Scala constant, so its text is
# byte-identical across consumers: materialize `pairs` ONCE as a temp
# table, then rewrite each matching oracle by excising the chain CTEs
# (DuckDB materializes even UNREFERENCED `AS MATERIALIZED` CTEs —
# measured 135s for a dangling one — so they must be removed, keeping
# only the transitive closure of chain CTEs the rest of the query
# still references) and pointing `pairs` at the cache. Rewritten and
# original oracles are semantically identical by construction: the
# cache is built from the very fragment it replaces.
CHAIN_MARKER = ("pairs AS MATERIALIZED (\n            "
                "SELECT * FROM pepairs UNION ALL SELECT * FROM plpairs)")
if "--chain-cache" in sys.argv:
    import re as _re

    def split_ctes(chain):
        """Parse 'name AS [MATERIALIZED] (body), ...' at paren depth 0,
        skipping single-quoted spans."""
        out = []
        i = 0
        pat = _re.compile(r"(\w+) AS (?:MATERIALIZED )?\(")
        while i < len(chain):
            m = pat.search(chain, i)
            if not m:
                break
            depth = 0
            j = m.end() - 1
            while j < len(chain):
                ch = chain[j]
                if ch == "'":
                    j = chain.index("'", j + 1)
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            out.append((m.group(1), chain[m.start():j + 1]))
            i = j + 1
        return out

    cacheable = {k: s for k, s in oracle.items()
                 if CHAIN_MARKER in s and (not only or k in only)}
    if cacheable:
        from collections import Counter

        def chain_of(s):
            return s[s.find("ptoks AS"):s.find(CHAIN_MARKER)
                     + len(CHAIN_MARKER)]
        canon = Counter(chain_of(s) for s in cacheable.values()) \
            .most_common(1)[0][0]
        import hashlib as _hl
        import os as _os
        import time as _time
        _t0 = _time.time()
        # persist per (corpus, chain-text): a re-run after fixing one
        # consumer's downstream SQL must not re-pay the ~25-min chain.
        # The key folds in a CORPUS FINGERPRINT (documents parquet file
        # names + sizes + mtimes), not just the sfdir path — if the
        # corpus under the path is regenerated in place, a stale cache
        # would silently feed wrong pairs to ~20 oracles (round-11
        # advice item 1)
        _doc_dir = Path(sfdir) / "documents.parquet"
        _doc_files = sorted(_doc_dir.glob("*.parquet")) \
            if _doc_dir.is_dir() else [_doc_dir]
        # embeddings-only corpora (`GenScale vec` output) have no
        # documents.parquet — an unconditional f.stat() crashed the
        # cache-key computation (round-12 advice item 2); the chain
        # consumers can't run there anyway, so an empty fingerprint is
        # correct (their queries fail individually, later and clearly)
        _fp = ";".join(f"{f.name}:{f.stat().st_size}:"
                       f"{f.stat().st_mtime_ns}"
                       for f in _doc_files if f.exists())
        _ck = _hl.md5((sfdir + "\0" + _fp + "\0" + canon)
                      .encode()).hexdigest()[:16]
        _cache_dir = _os.environ.get("GRAFT_CHAIN_CACHE_DIR")
        _cache_file = (f"{_cache_dir}/pairs_{_ck}.parquet"
                       if _cache_dir else None)
        if _cache_file and Path(_cache_file).exists():
            _mt = __import__("datetime").datetime.fromtimestamp(
                Path(_cache_file).stat().st_mtime)
            print(f"chain-cache: loading {_cache_file} "
                  f"(written {_mt:%Y-%m-%d %H:%M})", flush=True)
            con.execute("CREATE TEMP TABLE cached_pairs AS "
                        f"SELECT * FROM '{_cache_file}'")
        else:
            print("chain-cache: materializing the shared pair graph "
                  "once ...", flush=True)
            con.execute("CREATE TEMP TABLE cached_pairs AS WITH "
                        f"{canon} SELECT * FROM pairs")
            if _cache_file:
                con.execute(f"COPY cached_pairs TO '{_cache_file}'")
        n_cached = con.sql("SELECT count(*) FROM cached_pairs").fetchone()[0]
        print(f"chain-cache: {n_cached} pairs in "
              f"{_time.time() - _t0:.1f}s", flush=True)
        ctes = split_ctes(canon)
        cte_names = [n for n, _ in ctes]
        rewritten = 0
        for k, s in cacheable.items():
            if chain_of(s) != canon:
                print(f"chain-cache: {k} chain differs — left as-is",
                      flush=True)
                continue
            start = s.find("ptoks AS")
            end = s.find(CHAIN_MARKER) + len(CHAIN_MARKER)
            rest = s[:start] + s[end:]
            # transitive closure of chain CTEs the REST still references
            keep = set()
            frontier = [n for n in cte_names
                        if n != "pairs"
                        and _re.search(rf"\b{n}\b", rest)]
            while frontier:
                n = frontier.pop()
                if n in keep:
                    continue
                keep.add(n)
                body = dict(ctes)[n]
                frontier += [m for m in cte_names
                             if m != n and m != "pairs"
                             and m not in keep
                             and _re.search(rf"\b{m}\b", body)]
            parts = [t for n, t in ctes if n in keep]
            parts.append("pairs AS MATERIALIZED "
                         "(SELECT * FROM cached_pairs)")
            oracle[k] = s[:start] + ",\n          ".join(parts) + s[end:]
            rewritten += 1
        print(f"chain-cache: rewrote {rewritten}/{len(cacheable)} "
              "oracles onto the cache", flush=True)
unknown = only - set(oracle)
if unknown:
    # a typo'd filter must not report "1/1 queries match"
    print(f"ERROR: unknown query name(s): {sorted(unknown)}")
    sys.exit(2)
fails = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    res_dir = Path(outdir) / name
    if not res_dir.exists():
        print(f"FAIL {name}: no spark result dir")
        fails += 1
        continue
    res_glob = f"{res_dir}/*.parquet" if res_dir.is_dir() else str(res_dir)
    if digest_over is not None:
        try:
            n_rows = con.sql(
                f"SELECT count(*) FROM read_parquet('{res_glob}')"
            ).fetchone()[0]
        except Exception as e:
            print(f"FAIL {name}: spark parquet read error {e}")
            fails += 1
            continue
        if n_rows > digest_over:
            try:
                got_schema = con.sql(
                    f"DESCRIBE SELECT * FROM read_parquet('{res_glob}')"
                ).fetchall()
                got_types = {r[0]: r[1] for r in got_schema}
                exp_types = {r[0]: r[1] for r in con.sql(
                    f"DESCRIBE SELECT * FROM ({sql}) t").fetchall()}
                if sorted(got_types) != sorted(exp_types):
                    print(f"FAIL {name}: cols {sorted(got_types)} != "
                          f"{sorted(exp_types)}")
                    fails += 1
                    continue
                # type-strict compare with TWO sanctioned widenings:
                # (1) integer widths hash through a lossless HUGEINT
                # cast on BOTH sides (cell-walk repr parity: int64 3 ==
                # int32 3); (2) instants — Spark writes TIMESTAMP WITH
                # TIME ZONE parquet, oracles compute naive TIMESTAMPs
                # under the pinned-UTC session, so both hash through a
                # lossless TIMESTAMPTZ cast. Anything else must match
                # exactly — a FLOAT/DOUBLE or DECIMAL-scale drift is a
                # failure, never silently cast away
                int_family = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
                              "HUGEINT", "UTINYINT", "USMALLINT",
                              "UINTEGER", "UBIGINT", "UHUGEINT"}
                ts_family = {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"}
                cols = sorted(got_types)
                type_fails = []
                for c in cols:
                    gt, et = got_types[c], exp_types[c]
                    if gt != et and not (
                            (gt in int_family and et in int_family)
                            or (gt in ts_family and et in ts_family)):
                        type_fails.append(f"{c}: spark {gt} vs oracle {et}")
                if type_fails:
                    print(f"FAIL {name}: dtype mismatch "
                          f"[{'; '.join(type_fails)}]")
                    fails += 1
                    continue

                def proj(c, t):
                    if t in int_family:
                        return f'CAST("{c}" AS HUGEINT) AS "{c}"'
                    if t in ts_family:
                        return f'CAST("{c}" AS TIMESTAMPTZ) AS "{c}"'
                    return f'"{c}"'
                g_proj = ", ".join(proj(c, got_types[c]) for c in cols)
                e_proj = ", ".join(proj(c, exp_types[c]) for c in cols)
                hash_args = ", ".join(f'"{c}"' for c in cols)
                dig = (f"SELECT count(*) AS n, sum(hash({hash_args})) AS h "
                       "FROM ({src}) t")
                gn, gh = con.sql(dig.format(
                    src=f"SELECT {g_proj} FROM read_parquet('{res_glob}')"
                )).fetchone()
                en, eh = con.sql(dig.format(
                    src=f"SELECT {e_proj} FROM ({sql}) u")).fetchone()
            except Exception as e:
                print(f"FAIL {name}: digest error {e}")
                fails += 1
                continue
            if gn != en:
                print(f"FAIL {name}: rows {gn} != {en}")
                fails += 1
            elif gh != eh:
                print(f"FAIL {name}: digest mismatch over {gn} rows "
                      f"({gh} != {eh})")
                fails += 1
            else:
                print(f"OK   {name}: {gn} rows (digest)")
            continue
    try:
        got = pd.read_parquet(res_dir)
    except Exception as e:
        print(f"FAIL {name}: spark parquet read error {e}")
        fails += 1
        continue
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error {e}")
        fails += 1
        continue
    if sorted(got.columns) != sorted(exp.columns):
        print(f"FAIL {name}: cols {sorted(got.columns)} != {sorted(exp.columns)}")
        fails += 1
        continue
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        fails += 1
        continue
    # driver-style row sort — throws on unhashable cells (ndarray etc.),
    # which the driver reports as an err; treat that as a failure here
    try:
        g = got.sort_values(list(got.columns)).reset_index(drop=True)
        e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    except Exception as ex:
        print(f"FAIL {name}: unsortable result ({type(ex).__name__} {ex})")
        fails += 1
        continue
    # dtype-sensitive value compare via canonical string of every cell
    import datetime
    def canon(df):
        out = []
        for c in df.columns:
            col = df[c]
            # DATE columns: pyarrow yields datetime.date, duckdb .df()
            # yields datetime64 — the real driver treats these as equal
            # (fanout_orders hash-matched in round 1), so normalize
            vals = [pd.Timestamp(v) if isinstance(v, datetime.date)
                    and not isinstance(v, datetime.datetime) else v
                    for v in col.tolist()]
            # match the hash's dtype sensitivity: represent each cell as
            # repr(value) so int64 3 != float64 3.0 != Decimal('3')
            out.append([repr(v) for v in vals])
        return out
    gc, ec = canon(g), canon(e)
    if gc != ec:
        bad = None
        for ci, c in enumerate(g.columns):
            for ri in range(len(g)):
                if gc[ci][ri] != ec[ci][ri]:
                    bad = (c, ri, gc[ci][ri], ec[ci][ri])
                    break
            if bad:
                break
        print(f"FAIL {name}: col={bad[0]} row={bad[1]}\n"
              f"  spark={bad[2]} (dtype {g[bad[0]].dtype})\n"
              f"  duck ={bad[3]} (dtype {e[bad[0]].dtype})")
        fails += 1
    else:
        print(f"OK   {name}: {len(g)} rows")

n = len(only) if only else len(oracle)
print(f"\n{n - fails}/{n} queries match")
sys.exit(1 if fails else 0)
