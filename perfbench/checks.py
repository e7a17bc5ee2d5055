"""Correctness checks of the graft benchmark, run after the timed region.

Each workload's outputs are compared in DuckDB against an independent
computation over the same seed-landed inputs:

- cdc_ingest: the final lake snapshot against an SCD1 resolution of the
  bulk load plus every change file a micro-batch was given (so a batch
  the lake skipped shows), and each read-back lookup against the state
  after its micro-batch;
- lake_serve: sampled lookups, range reads and every time-travel read
  against the expected multiset of the version they read;
- medallion_refresh: every landed table against the registered oracle
  SQL that `Pipeline` verifies it with;
- ann_search: recall against the exact neighbours is checked against
  each index's floor in the JVM (`Dist.hitsAndTotal` over
  `Similarity.bruteForceTopK`); here the hits behind it are recounted
  from the exported search results and exact neighbours.

`run` returns one verdict per check; the JVM's own checks come first.
`corrupt=True` perturbs one expected result so that a check must fail
(the self-test uses it).
"""
import json
import math
from collections import Counter
from decimal import Decimal

import duckdb


def verdict(name, ok, detail=""):
    return {"name": name, "ok": bool(ok), "detail": detail}


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, exp):
    """Multiset equality of two row lists; floats compare to 1e-9."""
    if len(got) != len(exp):
        return False, f"{len(got)} rows, expected {len(exp)}"
    if Counter(got) == Counter(exp):  # exactly equal: no need to sort
        return True, f"{len(got)} rows"
    key = lambda r: tuple((x is None, round(x, 6) if isinstance(x, float) else x)  # noqa: E731
                          for x in r)
    g, e = sorted(got, key=key), sorted(exp, key=key)
    for a, b in zip(g, e):
        if len(a) != len(b) or not all(_close(x, y) for x, y in zip(a, b)):
            return False, f"row {a} != expected {b}"
    return True, f"{len(got)} rows"


def check_cdc(res, corrupt):
    info = res["info"]
    con = duckdb.connect()
    given = info["given_files"]
    con.sql(f"""CREATE TABLE src AS
        SELECT *, false AS _deleted, -1 AS pos
        FROM read_parquet('{info["base"]}/*.parquet')""")
    for pos, f in enumerate(given):
        con.sql(f"INSERT INTO src BY NAME SELECT *, {pos} AS pos FROM read_parquet('{f}')")
    cols = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
            "o_orderpriority, seq")
    exp = con.sql(f"""SELECT {cols} FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn
        FROM src) WHERE rn = 1 AND NOT coalesce(_deleted, false)""").fetchall()
    if corrupt and exp:
        exp[0] = exp[0][:3] + (exp[0][3] + 0.01,) + exp[0][4:]
    got = con.sql(f"SELECT {cols} FROM read_parquet('{info['final_snapshot']}/*.parquet')"
                  ).fetchall()
    ok, detail = same_rows(got, exp)
    out = [verdict("cdc.final_snapshot_is_scd1_of_changes", ok, detail)]
    with open(info["lookups"]) as fh:
        lookups = json.load(fh)
    pos_of = {int(f.rsplit("_", 1)[1].split(".")[0]): i for i, f in enumerate(given)}
    bad = 0
    for lk in lookups:
        if lk["file"] not in pos_of:  # a lookup after a batch no file was given to
            bad += 1
            continue
        if not lk["keys"]:
            continue
        keys = ", ".join(str(k) for k in lk["keys"])
        exp = con.sql(f"""SELECT o_orderkey, seq, o_totalprice FROM (
            SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) rn
            FROM src WHERE o_orderkey IN ({keys}) AND pos <= {pos_of[lk['file']]})
            WHERE rn = 1 AND NOT coalesce(_deleted, false)""").fetchall()
        if not same_rows([tuple(r) for r in lk["rows"]], exp)[0]:
            bad += 1
    out.append(verdict("cdc.lookups_see_their_batch", bad == 0,
                       f"{bad} of {len(lookups)} lookups differ"))
    return out


def check_lake_serve(res, corrupt):
    info = res["info"]
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE src AS
        SELECT *, false AS _deleted, 0 AS pos
        FROM read_parquet('{info["base"]}/*.parquet')""")
    for pos, f in enumerate(info["version_files"], start=1):
        con.sql(f"INSERT INTO src BY NAME SELECT *, {pos} AS pos FROM read_parquet('{f}')")
    made = set()

    def state(v):
        # v1 = bulk load; every later version applied one more merge file
        name = f"v{v}"
        if name not in made:
            con.sql(f"""CREATE TABLE {name} AS SELECT * EXCLUDE (rn, pos, _deleted) FROM (
                SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                  ORDER BY l_seq DESC) rn
                FROM src WHERE pos <= {v - 1})
                WHERE rn = 1 AND NOT coalesce(_deleted, false)""")
            made.add(name)
        return name

    with open(info["reads_file"]) as fh:
        reads = json.load(fh)
    bad, detail = 0, []
    rev = "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR)"
    for r in reads:
        k, v = r["kind"], r["version"]
        if k == "lookup":
            ids = r["ids"]
            keys = ", ".join(f"({i // 4}, {i % 4 + 1})" for i in ids)
            exp = con.sql(f"""SELECT l_orderkey, l_linenumber, l_seq, l_extendedprice
                FROM {state(v)} WHERE (l_orderkey, l_linenumber) IN ({keys})""").fetchall()
            ok = same_rows([tuple(x) for x in r["rows"]], exp)[0]
        elif k in ("range", "where", "travel"):
            t = state(r["at"] if k == "travel" else v)
            pred = ("TRUE" if k == "travel" else
                    f"l_shipday BETWEEN {r['lo']} AND {r['hi']}" +
                    (" AND l_discount >= 0.05" if k == "where" else ""))
            n, s = con.sql(f"SELECT COUNT(*), {rev} FROM {t} WHERE {pred}").fetchone()
            if corrupt:
                n, corrupt = n + 1, False
            ok = n == r["n"] and Decimal(s or "0") == Decimal(r["sum"])
        elif k == "changes":
            a, b = state(r["from"]), state(r["to"])
            exp = dict(con.sql(f"""SELECT CASE WHEN a.l_seq IS NULL THEN 'insert'
                    WHEN b.l_seq IS NULL THEN 'delete' ELSE 'update' END, COUNT(*)
                FROM {a} a FULL OUTER JOIN {b} b USING (l_orderkey, l_linenumber)
                WHERE a.l_seq IS DISTINCT FROM b.l_seq GROUP BY 1""").fetchall())
            ok = exp == r["counts"]
        else:
            t = state(v)
            grp = {"daily": "CAST(l_shipdate AS DATE)",
                   "monthly": "date_trunc('month', l_shipdate)",
                   "rollup": None}[k]
            if grp is None:
                n, s, g = con.sql(f"""SELECT COUNT(*), {rev},
                    COUNT(DISTINCT (l_returnflag, l_linestatus))
                      + COUNT(DISTINCT l_returnflag) + 1 FROM {t}""").fetchone()
                ok = n == r["n"] and Decimal(s) == Decimal(r["total"]) and g == r["groups"]
            else:
                g, s = con.sql(f"SELECT COUNT(DISTINCT {grp}), {rev} FROM {t}").fetchone()
                ok = g == r["groups"] and Decimal(s) == Decimal(r["total"])
        if not ok:
            bad += 1
            if len(detail) < 3:
                detail.append(f"{k}@v{v}")
    return [verdict("lake.reads_match_their_version", bad == 0,
                    f"{bad} of {len(reads)} reads differ {' '.join(detail)}".strip())]


def check_medallion(res, corrupt):
    info = res["info"]
    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "nation", "region", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{info['inputs_dir']}/{t}.parquet/*.parquet')")
    out = []
    for name, sql in sorted(info["oracles"].items()):
        layer = info["layers"][name]
        got_rel = con.sql(f"SELECT * FROM read_parquet('{info['lake']}/{layer}/{name}/*.parquet')")
        exp_rel = con.sql(sql)
        cols = sorted(got_rel.columns)
        if cols != sorted(exp_rel.columns):
            out.append(verdict(f"medallion.{name}", False,
                               f"columns {cols} != {sorted(exp_rel.columns)}"))
            continue
        got, exp = _rows(got_rel, cols), _rows(exp_rel, cols)
        if corrupt and not out and exp:
            exp = exp[1:]
        ok, detail = same_rows(got, exp)
        out.append(verdict(f"medallion.{name}", ok, detail))
    return out


def check_ann(res, corrupt):
    with open(res["info"]["ann_results"]) as fh:
        r = json.load(fh)
    truth = [tuple(p) for p in r["truth"]]
    out = []
    for name, got in r["indexes"].items():
        pairs = {tuple(p) for p in got["pairs"]}
        exp = list(truth)
        if corrupt:
            # turn one pair the search found into one it cannot have found
            hit = next((i for i, p in enumerate(exp) if p in pairs), None)
            if hit is not None:
                exp[hit] = (exp[hit][0], -1)
            corrupt = False
        hits = len({p for p in exp if p in pairs})
        ok = (hits, len(exp)) == (got["hits"], got["total"])
        out.append(verdict(f"ann.hits_recount.{name}", ok,
                           f"{hits}/{len(exp)} recounted, {got['hits']}/{got['total']} reported"))
    return out


def _rows(rel, cols):
    """`rel`'s rows over `cols`, with `_norm` applied to the columns whose
    type has more than one representation across the two engines."""
    rel = rel.select(*cols)
    fix = [i for i, t in enumerate(rel.types)
           if str(t).startswith(("DECIMAL", "DATE", "TIME"))]
    rows = rel.fetchall()
    if not fix:
        return rows
    out = []
    for r in rows:
        r = list(r)
        for i in fix:
            r[i] = _norm(r[i])
        out.append(tuple(r))
    return out


def _norm(x):
    """One representation per value across the two engines' result types."""
    if isinstance(x, Decimal):
        return float(x)
    if hasattr(x, "isoformat") and not isinstance(x, str):
        s = x.isoformat()
        return s[:10] if s.endswith("T00:00:00") else s
    return x


CHECKS = {"cdc_ingest": check_cdc, "lake_serve": check_lake_serve,
          "medallion_refresh": check_medallion, "ann_search": check_ann,
          "ann_search_all": check_ann}


def run(workload, res, corrupt=False):
    out = [verdict(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if workload in CHECKS:
        try:
            out += CHECKS[workload](res, corrupt)
        except Exception as e:  # a crashed check is a failed check
            out.append(verdict(f"{workload}.checks", False, f"{type(e).__name__}: {e}"))
    return out
