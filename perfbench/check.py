"""Output checks, run in DuckDB after the timed phase.

Each check returns a list of (operation, reason) failures:

- ingest_bulk and its traced run's manifest probe: row counts, column
  names, token values, null counts and order-independent numeric sums of
  the Parquet outputs, against the generator's own bookkeeping;
- query_mix: each query's prepare-step result against its DuckDB oracle
  (`SparkEntry.oracleSql`), canonicalised as scripts/compare.py does;
  queries with a quadratic oracle use their linear `Sf1Invariants` check.
"""
import json
import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _connect(work):
    con = duckdb.connect()
    spill = os.path.join(work, "duckdb_tmp")
    os.makedirs(spill, exist_ok=True)
    con.sql(f"SET temp_directory='{spill}'")
    con.sql("SET autoinstall_known_extensions=false")
    return con


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def check_manifest(work, expect, op_names):
    con = _connect(work)
    fails = []
    targets = {c["target"] for c in expect["commands"]}
    if set(op_names) != targets:
        fails.append(("manifest", f"commands {sorted(set(op_names) ^ targets)}"
                                  " differ from the dataset's"))
    for c in expect["commands"]:
        name = c["target"]
        try:
            rel = con.sql(f"SELECT * FROM read_parquet("
                          f"'{work}/out/{name}/*.parquet')")
            cols = sorted(rel.columns)
            if cols != c["columns"]:
                fails.append((name, f"columns {cols}"))
                continue
            q = lambda s: con.sql(s.format(
                t=f"read_parquet('{work}/out/{name}/*.parquet')")).fetchall()
            rows = q("SELECT count(*) FROM {t}")[0][0]
            if rows != c["rows"]:
                fails.append((name, f"rows {rows} != {c['rows']}"))
            # values, not storage types: a group whose files spell the
            # header differently is inferred as strings (see README)
            for col, want in c["sums"].items():
                got = q(f'SELECT sum(TRY_CAST("{col}" AS DOUBLE)) '
                        f'FROM {{t}}')[0][0]
                if got is None or not _close(float(got), want):
                    fails.append((name, f"sum({col}) {got} != {want}"))
            for col in set(c["nulls"]) | set(c["sums"]):
                got = q(f'SELECT count(*) - count("{col}") FROM {{t}}')[0][0]
                if got != c["nulls"].get(col, 0):
                    fails.append((name, f"nulls({col}) {got}"))
            for col, want in c["distinct"].items():
                got = sorted(r[0] for r in q(
                    f'SELECT DISTINCT "{col}" FROM {{t}} '
                    f'WHERE "{col}" IS NOT NULL'))
                if got != want:
                    fails.append((name, f"distinct({col}) {got}"))
        except duckdb.Error as e:
            fails.append((name, f"unreadable: {e}"[:200]))
    return fails


def check_ingest(in_dir, work, expect, op_names):
    con = _connect(work)
    t = f"read_parquet('{work}/out/*.parquet')"
    try:
        rel = con.sql(f"SELECT * FROM {t}")
        if sorted(rel.columns) != expect["columns"]:
            return [("ingest", f"columns {sorted(rel.columns)}")]
        rows, keysum = con.sql(
            f"SELECT count(*), sum(l_orderkey) FROM {t}").fetchone()
    except duckdb.Error as e:
        return [("ingest", f"unreadable: {e}"[:200])]
    fails = []
    if rows != expect["rows"]:
        fails.append(("ingest", f"rows {rows} != {expect['rows']}"))
    if keysum != expect["orderkey_sum"]:
        fails.append(("ingest", f"sum(l_orderkey) {keysum}"))
    for var, want in expect["per_var"].items():
        n, total = con.sql(
            f"SELECT count(value), sum(TRY_CAST(value AS DOUBLE)) FROM {t} "
            f"WHERE variable = '{var}'").fetchone()
        if n != want["rows"]:
            fails.append(("ingest", f"{var}: {n} values"))
        if "sum" in want and (total is None or
                              not _close(total, want["sum"])):
            fails.append(("ingest", f"{var}: sum {total} != {want['sum']}"))
        if "counts" in want:
            got = dict(con.sql(f"SELECT value, count(*) FROM {t} WHERE "
                               f"variable = '{var}' GROUP BY 1").fetchall())
            if got != want["counts"]:
                fails.append(("ingest", f"{var}: counts {got}"))
    return fails


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out), [cols[i] for i in order]


def check_mix(in_dir, work, expect, op_names):
    con = _connect(work)
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{in_dir}/tables/{t}.parquet'")
    oracles = json.load(open(f"{work}/oracle_sql.json"))
    invariants = json.load(open(f"{work}/invariants.json"))
    fails = []
    for name in expect["order"]:
        out = f"{work}/results/{name}/*.parquet"
        try:
            engine = con.sql(f"SELECT * FROM '{out}'")
            scols, srows = engine.columns, engine.fetchall()
            if name in invariants:
                sql = invariants[name].replace("{OUT}", out) \
                    .replace("{ROOT}", f"{work}/results")
                bad = con.sql(sql).fetchall()
                if bad or not srows:
                    fails.append((name, f"invariants {bad or 'empty result'}"))
                continue
            orel = con.sql(oracles[name])
            ocols, orows = orel.columns, orel.fetchall()
        except (duckdb.Error, KeyError) as e:
            fails.append((name, f"exception {e}"[:200]))
            continue
        sc, scn = _canon(srows, scols)
        oc, ocn = _canon(orows, ocols)
        if scn != ocn:
            fails.append((name, f"columns {scn} vs {ocn}"))
        elif sc != oc:
            diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:2]
            fails.append((name, f"{len(sc)} vs {len(oc)} rows; {diffs}"[:200]))
    return fails


CHECKS = {"ingest_bulk": check_ingest, "query_mix": check_mix}
