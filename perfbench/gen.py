"""Seeded input generator for the graft benchmark (untimed prepare step).

Every input is a pure function of the workload seed, and each generator
returns the bookkeeping the output checks compare against:

- ingest_bulk: a lineitem-shaped table (600 k rows) dumped to header TSV
  part files, with seed-chosen row order and split; and, for the traced
  run's manifest probe, a Cirro-shaped MAGeCK dataset (per-gene sgRNA
  summaries under a [GENE] path token, combined count matrices whose
  sample columns melt to (Sample, Reads), gene summaries), its annotate
  config and a flat fields catalog;
- query_mix: the ten TPC-H-style test tables (Parquet) at the 0.01 scale step
  and the seed-shuffled query order.
"""
import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# one query per library layer the mix covers: relational ops, planner
# rewrites (TopK), pairwise near-dup and sparse similarity, TxLog, HDF5
# and streaming
MIX_QUERIES = [
    "q07_groupagg", "q08_join_topk", "q13_minhash_neardup",
    "q109_sparse_cosine", "q425_txlog_delete", "q417_hdf5_export",
    "q177_stream_outer_join",
]

INGEST_ROWS = 600_000
MELT_VALUES = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
               "l_discount", "l_tax", "l_returnflag", "l_linestatus"]

# --------------------------------------------------------------- manifest

MANIFEST_SCREENS = 6  # 3 commands each -> 18 commands per manifest
SAMPLE_POOL = [f"S{i:02d}" for i in range(1, 25)]
SGRNA_COLS = ["sgrna", "Gene", "control_count", "treatment_count",
              "control_mean", "treat_mean", "LFC", "control_var", "adj_var",
              "score", "p.low", "p.high", "p.twosided", "FDR",
              "high_in_treatment"]
GENE_SUMMARY_COLS = ["id", "num", "neg.score", "neg.p-value", "neg.fdr",
                     "neg.rank", "pos.score", "pos.p-value", "pos.fdr",
                     "pos.rank", "lfc"]
GENES = ["BRCA1", "BRCA2", "TP53", "KRAS", "EGFR", "MYC", "PTEN", "ATM",
         "CDK4", "RB1", "APC", "SMAD4", "NRAS", "PIK3CA", "ALK", "RAF1"]


def _case(rng, name):
    """Header spelling drawn per file: as-is, lower or upper case."""
    return rng.choice([name, name.lower(), name.upper()])


def _write_dsv(path, header, rows, sep):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    text = "\n".join(sep.join(r) for r in [header] + rows) + "\n"
    data = text.encode("utf-8")
    if path.endswith(".gz"):
        # fixed mtime: the same seed gives byte-identical inputs
        with open(path, "wb") as f, gzip.GzipFile(
                fileobj=f, mode="wb", mtime=0) as g:
            g.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


def _num(rng, lo, hi, na_rate, digits=4):
    """A numeric cell and its value (None for an NA cell)."""
    if rng.random() < na_rate:
        return "NA", None
    v = round(rng.uniform(lo, hi), digits)
    return f"{v:.{digits}f}", v


class _Target:
    """Expected output of one manifest command."""

    def __init__(self, target, columns):
        self.target = target
        self.columns = sorted(columns)
        self.rows = 0
        self.sums = {}      # column -> sum of non-null numeric cells
        self.nulls = {}     # column -> null count
        self.distinct = {}  # column -> sorted distinct non-null values

    def add(self, col, v):
        if v is None:
            self.nulls[col] = self.nulls.get(col, 0) + 1
        else:
            self.sums[col] = self.sums.get(col, 0.0) + v

    def as_json(self):
        return {"target": self.target, "columns": self.columns,
                "rows": self.rows, "sums": self.sums, "nulls": self.nulls,
                "distinct": self.distinct}


def _spread(rng, choices, n):
    """`choices` repeated to length n, shuffled: every seed gets the same
    mix of file kinds, on different screens."""
    out = [choices[i % len(choices)] for i in range(n)]
    rng.shuffle(out)
    return out


def gen_manifest(root, seed):
    """Dataset under <root>/data plus config.json, fields.json and
    expect.json (one entry per command the annotate step must emit).
    Sizes are fixed; the seed draws names, values, NA cells, header
    spellings and which screens get which separator or compression."""
    rng = random.Random(seed)
    targets = []
    variable_files = []
    sg_ext = _spread(rng, [".txt", ".txt", ".txt.gz"], MANIFEST_SCREENS)
    count_ext = _spread(rng, [".txt", ".csv", ".txt.gz"], MANIFEST_SCREENS)
    gene_ext = _spread(rng, [".txt", ".csv"], MANIFEST_SCREENS)
    for s in range(MANIFEST_SCREENS):
        screen = f"screen{s:02d}"
        base = f"{root}/data/{screen}/mageck"
        # per-gene sgRNA summaries: one variable-file group per screen
        genes = rng.sample(GENES, 4)
        ext = sg_ext[s]
        fname = f"{screen}.sgrna_summary{ext}"
        t = _Target(f"{screen}.sgrna_summary.parquet",
                    [c.lower() for c in SGRNA_COLS])
        for g in genes:
            header = [_case(rng, c) if c in ("Gene", "LFC", "FDR") else c
                      for c in SGRNA_COLS]
            rows = []
            for i in range(80):
                sg = f"{g}_sg{i:03d}"
                cm, cmv = _num(rng, 1, 900, 0.02)
                tm, tmv = _num(rng, 1, 900, 0.02)
                lfc, lfcv = _num(rng, -6, 6, 0.05)
                score, scv = _num(rng, 0, 1, 0.0)
                fdr, fdrv = _num(rng, 0, 1, 0.08)
                rest = [f"{rng.uniform(0, 1):.4f}" for _ in range(5)]
                flag = rng.choice(["True", "False"])
                rows.append([sg, g, f"{rng.uniform(1, 900):.2f}/"
                             f"{rng.uniform(1, 900):.2f}",
                             f"{rng.uniform(1, 900):.2f}", cm, tm, lfc]
                            + rest[:2] + [score] + rest[2:5] + [fdr, flag])
                t.add("control_mean", cmv)
                t.add("treat_mean", tmv)
                t.add("lfc", lfcv)
                t.add("score", scv)
                t.add("fdr", fdrv)
                t.rows += 1
            _write_dsv(f"{base}/{g}/{fname}", header, rows, "\t")
        t.distinct["gene"] = sorted(genes)
        targets.append(t)
        variable_files.append({
            "pattern": f"data/{screen}/mageck/[GENE]/{fname}",
            "name": f"sgRNA summary {screen}",
            "tokens": [{"token": "[GENE]", "name": "gene",
                        "desc": "target gene"}]})

        # combined counts: sample columns melt to (Sample, Reads)
        samples = rng.sample(SAMPLE_POOL, 5)
        cext = count_ext[s]
        csep = "," if cext == ".csv" else "\t"
        t = _Target(f"{screen}.count.parquet",
                    ["sgrna", "gene", "Sample", "Reads"])
        header = [_case(rng, "sgRNA"), _case(rng, "Gene")] + \
            [_case(rng, x) for x in samples]
        rows = []
        for i in range(400):
            g = rng.choice(GENES)
            row = [f"{g}_sg{i:03d}", g]
            for _ in samples:
                if rng.random() < 0.03:
                    row.append("NA")
                    t.add("Reads", None)
                else:
                    v = rng.randint(0, 5000)
                    row.append(str(v))
                    t.add("Reads", float(v))
                t.rows += 1
            rows.append(row)
        _write_dsv(f"{base}/count/combined/{screen}.count{cext}", header,
                   rows, csep)
        t.distinct["Sample"] = sorted(x.lower() for x in samples)
        targets.append(t)

        # gene summary (ids/metrics shape), comma or tab separated
        gext = gene_ext[s]
        gsep = "," if gext == ".csv" else "\t"
        t = _Target(f"{screen}.gene_summary.parquet",
                    [c.lower() for c in GENE_SUMMARY_COLS])
        header = [_case(rng, c) if c in ("id", "lfc") else c
                  for c in GENE_SUMMARY_COLS]
        rows = []
        for i in range(200):
            num = rng.randint(1, 12)
            lfc, lfcv = _num(rng, -5, 5, 0.05)
            gid = "NA" if rng.random() < 0.02 else f"GENE{i:05d}"
            rows.append([gid, str(num)]
                        + [f"{rng.uniform(0, 1):.5f}" for _ in range(3)]
                        + [str(rng.randint(1, 500))]
                        + [f"{rng.uniform(0, 1):.5f}" for _ in range(3)]
                        + [str(rng.randint(1, 500)), lfc])
            t.add("num", float(num))
            t.add("lfc", lfcv)
            t.add("id", None if gid == "NA" else 0.0)
            t.rows += 1
        t.sums.pop("id", None)
        _write_dsv(f"{base}/{screen}.gene_summary{gext}", header, rows, gsep)
        targets.append(t)

    config = {
        "variable_files": variable_files,
        "variable_columns": [{"columns": SAMPLE_POOL, "name": "Sample",
                              "desc": "sequenced sample",
                              "value_name": "Reads",
                              "value_desc": "read count"}],
    }
    fields = [
        {"col": "sgrna", "name": "sgRNA", "desc": "guide id"},
        {"col": "gene", "name": "Gene", "desc": "target gene"},
        {"col": "lfc", "name": "log fold change", "desc": "LFC"},
        {"col": "fdr", "name": "FDR", "desc": "false discovery rate"},
        {"col": "score", "name": "score", "desc": "RRA score"},
        {"col": "id", "name": "ID", "desc": "gene identifier"},
        {"col": "num", "name": "guides", "desc": "sgRNAs per gene"},
        {"col": "reads", "name": "Reads", "desc": "read count"},
        {"col": "p.value", "name": "p-value", "desc": "unadjusted"},
        {"col": "nes", "name": "NES", "desc": "normalized enrichment"},
    ]
    _dump(f"{root}/config.json", config)
    _dump(f"{root}/fields.json", fields)
    in_bytes = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(f"{root}/data") for f in fs)
    expect = {"commands": [t.as_json() for t in targets],
              "in_bytes": in_bytes}
    _dump(f"{root}/expect.json", expect)
    return expect


# ----------------------------------------------------------------- ingest

def _lineitem(rs, n, n_orders, n_parts, n_supp):
    day = np.datetime64("1995-01-02", "s")
    span = int((np.datetime64("2001-11-04", "s") - day) / np.timedelta64(1, "D"))
    return {
        "l_orderkey": rs.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rs.integers(0, n_parts, n, dtype=np.int64),
        "l_suppkey": rs.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": rs.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rs.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rs.uniform(900.0, 105000.0, n), 2),
        "l_discount": rs.integers(0, 11, n) / 100.0,
        "l_tax": rs.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rs.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rs.integers(0, 2, n)],
        "l_shipdate": (day + rs.integers(0, span + 1, n) * 86400)
        .astype("datetime64[us]"),
    }


def gen_ingest(root, seed):
    """Header TSV parts of a 600 k-row lineitem table, a 2 k-row warm-up
    file, the manifest-probe dataset under <root>/manifest, and
    expect.json (per-variable counts and sums of the melt)."""
    manifest = gen_manifest(f"{root}/manifest", seed)
    rs = np.random.default_rng(seed)
    li = _lineitem(rs, INGEST_ROWS, 150_000, 20_000, 1_000)
    table = pa.table(li)
    # eight equal parts (two per core at local[4]); the seed's row order
    # decides which rows land in which part
    parts = 8
    bounds = np.arange(parts + 1) * (INGEST_ROWS // parts)
    order = rs.permutation(INGEST_ROWS)
    table = table.take(pa.array(order))

    def write_tsv(part, path):
        opts = pacsv.WriteOptions(delimiter="\t", quoting_style="none",
                                  include_header=False)
        with open(path, "wb") as f:
            f.write(("\t".join(table.column_names) + "\n").encode())
            pacsv.write_csv(part, f, opts)

    os.makedirs(f"{root}/tsv", exist_ok=True)
    os.makedirs(f"{root}/warm", exist_ok=True)
    for p in range(parts):
        write_tsv(table.slice(bounds[p], bounds[p + 1] - bounds[p]),
                  f"{root}/tsv/part-{p:05d}.tsv")
    write_tsv(table.slice(0, 2000), f"{root}/warm/part-00000.tsv")
    in_bytes = sum(os.path.getsize(f"{root}/tsv/{f}")
                   for f in os.listdir(f"{root}/tsv"))
    per_var = {}
    for v in MELT_VALUES:
        col = li[v]
        if col.dtype.kind in "if":
            per_var[v] = {"rows": INGEST_ROWS, "sum": float(col.sum())}
        else:
            vals, counts = np.unique(col, return_counts=True)
            per_var[v] = {"rows": INGEST_ROWS, "counts": {
                str(a): int(b) for a, b in zip(vals, counts)}}
    expect = {"rows": INGEST_ROWS * len(MELT_VALUES),
              "columns": sorted(["l_orderkey", "l_linenumber", "variable",
                                 "value"]),
              "orderkey_sum": int(li["l_orderkey"].sum()) * len(MELT_VALUES),
              "per_var": per_var, "in_bytes": in_bytes,
              "manifest": manifest}
    _dump(f"{root}/expect.json", expect)
    return expect


# -------------------------------------------------------------- query mix

VOCAB = ("a the row line data table query join scan filter sort merge hash "
         "group agg window stream batch spark column value key part order "
         "customer vector big small fast slow").split()


def gen_mix(root, seed):
    """The ten TPC-H-style test tables (0.01 scale step) as single Parquet
    files under <root>/tables, and the seed-shuffled query order."""
    rs = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    n_ev, n_doc, n_emb, n_users = 10000, 500, 500, 150
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rs.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                  "BUILDING", "FURNITURE"])[
            rs.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rs.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2)}
    colors = ["small", "red", "blue", "green", "large", "black", "white",
              "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "screw", "nut", "valve", "pipe"]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array([f"{colors[a]} {nouns[b]}" for a, b in zip(
            rs.integers(0, 8, n_part), rs.integers(0, 8, n_part))]),
        "p_brand": np.array([f"Brand#{i}" for i in
                             rs.integers(1, 26, n_part)]),
        "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                            "PROMO"])[rs.integers(0, 6, n_part)],
        "p_size": rs.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0,
                                  1)}
    day0 = np.datetime64("1995-01-01", "s")
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rs.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["P", "O", "F"])[rs.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rs.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": (day0 + rs.integers(0, 2404, n_ord) * 86400)
        .astype("datetime64[us]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rs.integers(0, 5, n_ord)]}
    t["lineitem"] = _lineitem(rs, n_li, n_ord, n_part, n_supp)
    gaps = rs.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps),
        "user_id": rs.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "signup", "error", "view",
                                "purchase"])[rs.integers(0, 5, n_ev)],
        "value": np.round(rs.uniform(0.01, 490.02, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in
                           rs.integers(0, 100, n_ev)])}
    texts = []
    for i in range(n_doc):
        if i >= 20 and rs.random() < 0.05:
            # planted near-duplicate: an earlier doc with one word changed
            words = texts[int(rs.integers(0, i))].split()
            words[int(rs.integers(0, len(words)))] = "dup"
        else:
            words = list(np.array(VOCAB)[rs.integers(0, len(VOCAB),
                                                     int(rs.integers(10, 100)))])
        texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts),
        "lang": np.array(["en", "en", "zh", "de", "fr", "es"])[
            rs.integers(0, 6, n_doc)],
        "source": np.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    emb = rs.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": rs.integers(0, 10, n_emb, dtype=np.int32)}
    os.makedirs(f"{root}/tables", exist_ok=True)
    in_bytes = 0
    for name, cols in t.items():
        path = f"{root}/tables/{name}.parquet"
        pq.write_table(pa.table(cols), path)
        in_bytes += os.path.getsize(path)
    order = list(MIX_QUERIES)
    random.Random(seed).shuffle(order)
    with open(f"{root}/order.txt", "w") as f:
        f.write("\n".join(order) + "\n")
    expect = {"order": order, "in_bytes": in_bytes}
    _dump(f"{root}/expect.json", expect)
    return expect


def _dump(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


GENERATORS = {"ingest_bulk": gen_ingest, "query_mix": gen_mix}
