"""Seeded input generator for the warehouse benchmark.

Writes, under one work directory:

  src/<table>.parquet      the ten tables as the query layer sees them
                           (same names and column types as the engine's
                           test tables), read by the operator queries and
                           their DuckDB oracle;
  sliced/<table>.parquet   the same rows plus a `__slice` column — the
                           delivery slice each row ships in (dimension
                           tables ship whole, slice 0);
  extracts/<table>/...     CD1-shaped gzip TSV extracts (LazySimpleSerDe:
                           tab separated, `\\N` nulls, no quoting, no
                           header), one file per fact slice, one full
                           dump per dimension table;
  plan.json                the CD1 schema, the manifest of every sync with
                           its predicted summary, the forget requests,
                           and the per-round SQL parameters and probes.

Everything is a function of the seed. Fact tables slice by time (`events`
by calendar day over January 2024, `orders`/`lineitem` by equal spans of
`o_orderdate`/`l_shipdate`) or by id range (`documents`, `embeddings`).
Dimension tables are re-issued daily under a new file name, so every delta
sync also stale-deletes yesterday's dumps.
"""
import datetime as dt
import gzip
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fact tables ship in N_SLICES time or id slices: the cold sync delivers
# the first HISTORY, the daily delta the next one. Sizes and slice counts
# are small because the engine's cost per sync is mostly fixed per-job and
# driver-side work: the whole run has to fit the benchmark's time budget.
N_SLICES = 10
HISTORY = 9

SIZES = {"customer": 500, "supplier": 100, "part": 500,
         "orders": 4000, "events": 3000, "documents": 400,
         "embeddings": 300, "users": 200}
EMBED_DIM = 64

FACTS = ["orders", "lineitem", "events", "documents", "embeddings"]
DIMS = ["customer"]
TABLES = ["region", "nation", "customer", "supplier", "part"] + FACTS


# CD1 column types (the names the reference's schema API uses), so the
# warehouse's TypeLattice maps every column
SCHEMA = {
    "region": [("r_regionkey", "integer"), ("r_name", "varchar", 25)],
    "nation": [("n_nationkey", "integer"), ("n_name", "varchar", 25),
               ("n_regionkey", "integer")],
    "customer": [("c_custkey", "bigint"), ("c_name", "varchar", 25),
                 ("c_nationkey", "integer"),
                 ("c_acctbal", "double precision"),
                 ("c_mktsegment", "varchar", 10)],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "varchar", 25),
                 ("s_nationkey", "integer"),
                 ("s_acctbal", "double precision")],
    "part": [("p_partkey", "bigint"), ("p_name", "varchar", 55),
             ("p_brand", "varchar", 10), ("p_type", "varchar", 25),
             ("p_size", "integer"), ("p_retailprice", "double precision")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "varchar", 1),
               ("o_totalprice", "double precision"),
               ("o_orderdate", "datetime"),
               ("o_orderpriority", "varchar", 15)],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "integer"),
                 ("l_quantity", "double precision"),
                 ("l_extendedprice", "double precision"),
                 ("l_discount", "double precision"),
                 ("l_tax", "double precision"),
                 ("l_returnflag", "varchar", 1),
                 ("l_linestatus", "varchar", 1),
                 ("l_shipdate", "datetime")],
    "events": [("event_id", "bigint"), ("ts", "datetime"),
               ("user_id", "bigint"), ("event_type", "varchar", 20),
               ("value", "double precision"), ("props", "text")],
    "documents": [("doc_id", "bigint"), ("text", "text"),
                  ("lang", "varchar", 8), ("source", "varchar", 16),
                  ("n_chars", "bigint")],
    "embeddings": [("vec_id", "bigint"), ("embedding", "text"),
                   ("label", "integer")],
}

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value agg column big vector a").split()
EPOCH = dt.datetime(1970, 1, 1)
ORDER_LO = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_LO).days
EVENTS_LO = dt.datetime(2024, 1, 1)


def _micros(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def slice_by_span(values, lo, hi, n=N_SLICES):
    """Equal-width spans of [lo, hi]: slice i holds lo + i*w <= v <
    lo + (i+1)*w, the last span closed at hi."""
    v = np.asarray(values, dtype=np.float64)
    w = (hi - lo) / n
    return np.minimum(((v - lo) // w).astype(np.int64), n - 1)


def slice_by_id(ids, count, n=N_SLICES):
    """Contiguous id ranges of near-equal size."""
    return (np.asarray(ids, dtype=np.int64) * n) // count


def make_tables(rng):
    """The ten tables as column dicts (numpy arrays / lists)."""
    S = SIZES
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION{i:02d}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    nc = S["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": list(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], nc))}
    ns = S["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)}
    npart = S["part"]
    price = np.round(rng.uniform(900, 2100, npart), 2)
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [" ".join(w) for w in rng.choice(WORDS, (npart, 2))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    rng.integers(1, 6, (npart, 2))],
        "p_type": list(rng.choice(
            ["STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
             "LARGE POLISHED STEEL", "ECONOMY ANODIZED NICKEL",
             "PROMO BURNISHED BRASS"], npart)),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": price}
    no = S["orders"]
    odays = rng.integers(0, ORDER_DAYS, no)
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": np.round(rng.uniform(1000, 400000, no), 2),
        "o_orderdate": odays,
        "o_orderpriority": list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            no))}
    nlines = rng.integers(1, 8, no)
    lk = np.repeat(np.arange(no, dtype=np.int64), nlines)
    ln = np.concatenate([np.arange(1, k + 1) for k in nlines])
    nl = len(lk)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lpart = rng.integers(0, npart, nl).astype(np.int64)
    t["lineitem"] = {
        "l_orderkey": lk, "l_partkey": lpart,
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": ln.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": list(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": list(rng.choice(["O", "F"], nl)),
        "l_shipdate": odays[lk] + rng.integers(1, 121, nl)}
    ne = S["events"]
    secs = np.sort(rng.integers(0, N_SLICES * 86400, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": secs,
        "user_id": rng.integers(0, S["users"], ne).astype(np.int64),
        "event_type": list(rng.choice(
            ["click", "view", "purchase", "signup", "error"], ne)),
        "value": np.round(rng.uniform(0, 500, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]}
    nd = S["documents"]
    texts = []
    for i in range(nd):
        if i % 7 == 3 and i > 10:
            # near-duplicate of document i - 3, an original: one word
            # replaced. Originals are long enough that every such pair
            # clears the 0.6 shingle Jaccard of the near-dup operators, so
            # the duplicate graph has the same shape for every seed and
            # seeds change only the words.
            w = texts[i - 3].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS,
                                             int(rng.integers(20, 80)))))
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": list(rng.choice(["en", "es", "de", "fr", "zh"], nd)),
        "source": [f"src{k}" for k in rng.integers(0, 4, nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    nv = S["embeddings"]
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, nv)
    vec = (centers[label] + rng.normal(0, 0.6, (nv, EMBED_DIM)))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)
           ).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(nv, dtype=np.int64),
                       "embedding": vec, "label": label.astype(np.int32)}
    return t


def slices_of(name, cols):
    if name == "events":
        return cols["ts"] // 86400
    if name == "orders":
        return slice_by_span(cols["o_orderdate"], 0, ORDER_DAYS)
    if name == "lineitem":
        return slice_by_span(cols["l_shipdate"], 0, ORDER_DAYS + 121)
    if name in ("documents", "embeddings"):
        ids = cols["doc_id" if name == "documents" else "vec_id"]
        return slice_by_id(ids, len(ids))
    return np.zeros(len(next(iter(cols.values()))), dtype=np.int64)


def check_slicing(name, cols, sl):
    """Every row lands in exactly one slice, and the slices in order
    concatenate back to the source rows."""
    n = len(sl)
    assert sl.min() >= 0 and sl.max() < N_SLICES, name
    counts = np.bincount(sl, minlength=N_SLICES)
    assert counts.sum() == n, name
    if name in FACTS:
        # every slice non-empty, so every delta delivers a file with rows
        assert (counts > 0).all(), (name, counts)
    order = np.argsort(sl, kind="stable")
    key = next(iter(cols.values()))
    rebuilt = np.concatenate([np.asarray(key)[sl == i]
                              for i in range(N_SLICES)])
    assert np.array_equal(rebuilt, np.asarray(key)[order]), name


def _f32(x):
    return np.format_float_positional(x, unique=True, trim="-")


def tsv_fields(name, cols):
    """Per-column string renderings in LazySimpleSerDe form."""
    out = []
    for c in SCHEMA[name]:
        v = cols[c[0]]
        if c[0] in ("o_orderdate", "l_shipdate"):
            out.append([(ORDER_LO + dt.timedelta(days=int(d)))
                        .strftime("%Y-%m-%d %H:%M:%S") for d in v])
        elif c[0] == "ts":
            out.append([(EVENTS_LO + dt.timedelta(seconds=int(s)))
                        .strftime("%Y-%m-%d %H:%M:%S") for s in v])
        elif c[0] == "embedding":
            out.append([",".join(_f32(x) for x in row) for row in v])
        elif isinstance(v, np.ndarray) and v.dtype.kind == "f":
            out.append([repr(float(x)) for x in v])
        else:
            out.append(["\\N" if x is None else str(x) for x in v])
    return out


def arrow_table(name, cols, sl=None):
    arrs = {}
    for c in SCHEMA[name]:
        v = cols[c[0]]
        if c[0] in ("o_orderdate", "l_shipdate"):
            us = _micros(ORDER_LO) + np.asarray(v, np.int64) * 86400_000_000
            arrs[c[0]] = pa.array(us, pa.timestamp("us"))
        elif c[0] == "ts":
            us = _micros(EVENTS_LO) + np.asarray(v, np.int64) * 1_000_000
            arrs[c[0]] = pa.array(us, pa.timestamp("us"))
        elif c[0] == "embedding":
            arrs[c[0]] = pa.array(list(v), pa.list_(pa.float32()))
        else:
            arrs[c[0]] = pa.array(v)
    if sl is not None:
        arrs["__slice"] = pa.array(np.asarray(sl, np.int32))
    return pa.table(arrs)


def write_extract(path, fields, rows):
    with gzip.open(path, "wt", encoding="utf-8", compresslevel=6,
                   newline="\n") as f:
        for i in rows:
            f.write("\t".join(col[i] for col in fields))
            f.write("\n")


def generate(work, seed, workload):
    rng = np.random.default_rng(seed)
    tables = make_tables(rng)
    ext = os.path.join(work, "extracts")
    for d in ("src", "sliced", "extracts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    files = {}   # table -> list of (slice, filename, url)
    delivered_bytes = {}
    slice_counts = {}
    synced = DIMS + FACTS
    for name in TABLES:
        cols = tables[name]
        if workload != "sync_daily":
            pq.write_table(arrow_table(name, cols),
                           os.path.join(work, "src", f"{name}.parquet"))
        if name not in synced or workload == "operator_queries":
            continue
        sl = slices_of(name, cols)
        check_slicing(name, cols, sl)
        pq.write_table(arrow_table(name, cols, sl),
                       os.path.join(work, "sliced", f"{name}.parquet"))
        os.makedirs(os.path.join(ext, name), exist_ok=True)
        fields = tsv_fields(name, cols)
        parts = range(N_SLICES) if name in FACTS else [0]
        files[name] = []
        slice_counts[name] = np.bincount(sl, minlength=N_SLICES).tolist()
        for i in parts:
            fn = f"{name}-s{i:02d}.gz"
            path = os.path.join(ext, name, fn)
            write_extract(path, fields, np.nonzero(sl == i)[0])
            files[name].append((i, fn, "file://" + os.path.abspath(path)))
            delivered_bytes[(name, i)] = os.path.getsize(path)
    return tables, files, delivered_bytes, slice_counts, rng


def manifest_for(files, day, facts):
    """The manifest as published on `day` (0 = the cold sync): fact slices
    up to HISTORY + day - 1, and each dimension dump under the day's name
    (the same bytes re-issued, so yesterday's name goes stale)."""
    m = []
    for name in DIMS + facts:
        for i, fn, url in files[name]:
            if name in facts and i < HISTORY + day:
                m.append([name, fn, url])
            elif name in DIMS:
                m.append([name, f"{name}-d{day:02d}.gz", url])
    return m


def typical_keys(rng, values, slices, n, touch):
    """`n` distinct keys of `values` whose rows lie in `touch` distinct
    slices (or as near as there are) and whose row counts lie nearest the
    mean count, ties broken by the seed."""
    keys, inv, counts = np.unique(values, return_inverse=True,
                                  return_counts=True)
    spread = np.array([len(np.unique(slices[inv == i]))
                       for i in range(len(keys))])
    order = np.lexsort((rng.random(len(keys)),
                        np.abs(counts - counts.mean()),
                        np.abs(spread - touch)))
    return sorted(int(k) for k in keys[order[:n]])


def plan(work, seed, workload):
    tables, files, dbytes, slice_counts, rng = generate(work, seed,
                                                        workload)
    if workload == "operator_queries":
        # the operator queries read src/ only
        p = {"seed": seed, "workload": workload, "history": HISTORY,
             "schema": {}, "facts": FACTS, "syncs": [], "forgets": [],
             "rounds": []}
        with open(os.path.join(work, "plan.json"), "w") as f:
            json.dump(p, f)
        return p
    facts = FACTS
    n_days = N_SLICES - HISTORY
    nfact = len(facts)
    ndim = len(DIMS)
    syncs = [{"kind": "cold", "day": 0,
              "manifest": manifest_for(files, 0, facts),
              "expect": {"fetched": nfact * HISTORY + ndim, "skipped": 0,
                         "removed": 0},
              "gz_bytes": sum(b for (t, i), b in dbytes.items()
                              if t in DIMS or i < HISTORY)}]
    for d in range(1, n_days + 1):
        m = manifest_for(files, d, facts)
        syncs.append({"kind": "delta", "day": d, "manifest": m,
                      "expect": {"fetched": nfact + ndim,
                                 "skipped": nfact * (HISTORY + d - 1),
                                 "removed": ndim},
                      "gz_bytes": sum(b for (t, i), b in dbytes.items()
                                      if t in DIMS or i == HISTORY + d - 1)})
        syncs.append({"kind": "noop", "day": d, "manifest": m,
                      "expect": {"fetched": 0, "skipped": len(m),
                                 "removed": 0}, "gz_bytes": 0})
    # the forget requests of each day, one of every shape: by
    # `documents.doc_id` (cascading into the MinHash index and the pack
    # store), cross-column by `orders.o_custkey`, and by `events.user_id` on
    # the manifest-managed table. The seed picks the keys among rows
    # delivered by that day, so that every seed forgets the same amount:
    # one document from each of three fixed slices (so three raw files
    # change), and customers and a user whose rows span a fixed number of
    # slices (raw files and date partitions) with about the mean row count.
    forgets = []
    for d in range(1, n_days + 1):
        upto = HISTORY + d
        docs = tables["documents"]
        sl = slices_of("documents", docs)
        keys = [int(rng.choice(docs["doc_id"][sl == i]))
                for i in (0, HISTORY // 2, upto - 1)]
        forgets.append({"day": d, "table": "documents", "column": "doc_id",
                        "keys": sorted(keys)})
        for table, column, n, touch in (("orders", "o_custkey", 1, 6),
                                        ("events", "user_id", 1, 8)):
            cols = tables[table]
            sl = slices_of(table, cols)
            kept = sl < upto
            forgets.append({"day": d, "table": table, "column": column,
                            "keys": typical_keys(rng, cols[column][kept],
                                                 sl[kept], n, touch)})
    rounds = []
    docs = tables["documents"]
    vecs = tables["embeddings"]
    for r in range(200 if workload == "warehouse_sql" else 0):
        lo = int(rng.integers(0, ORDER_DAYS - 60))
        doc_src = [int(x) for x in rng.choice(
            int(slice_counts["documents"][0]) * HISTORY // 2, 3, False)]
        vec_src = [int(x) for x in rng.choice(
            int(slice_counts["embeddings"][0]) * HISTORY // 2, 3, False)]
        rounds.append({
            "order": [int(x) for x in rng.permutation(10)],
            "ship_lo": (ORDER_LO + dt.timedelta(days=lo))
            .strftime("%Y-%m-%d"),
            "ship_hi": (ORDER_LO + dt.timedelta(days=lo + 30))
            .strftime("%Y-%m-%d"),
            "order_keys": sorted(int(x) for x in rng.choice(
                SIZES["orders"], 8, False)),
            # exact copies of indexed documents (under fresh ids) plus
            # one unrelated text
            "probe_docs": [[10_000_000 + i, docs["text"][k], k]
                           for i, k in enumerate(doc_src)] +
            [[10_000_099, " ".join(rng.choice(WORDS, 40)), -1]],
            "probe_vecs": [[20_000_000 + i,
                            [float(x) for x in vecs["embedding"][k]], k]
                           for i, k in enumerate(vec_src)]})
    p = {"seed": seed, "workload": workload,
         "n_slices": N_SLICES, "history": HISTORY,
         "schema": {t: [{"name": c[0], "type": c[1],
                         "length": c[2] if len(c) > 2 else None}
                        for c in SCHEMA[t]] for t in DIMS + facts},
         "facts": facts, "dims": DIMS,
         "slice_counts": slice_counts,
         "syncs": syncs, "forgets": forgets, "rounds": rounds}
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(p, f)
    return p
