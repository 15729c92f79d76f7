"""Seeded input generator for the DW benchmark.

Writes a TPC-H-shaped star source (region, nation, customer, supplier,
part, orders, lineitem) as parquet, in the layout `graft.Tables` reads
(`<dir>/<table>.parquet`, a file or a directory of part files), plus the
perturbed dimension sources and the serving ops.

The corpus is `replicas` copies of one unit sized like the reference's
AdventureWorks load. Each replica offsets its keys by the unit size and
draws its foreign keys inside its own key range, so every foreign key
resolves. Order dates fall in 1995-01-01..2001-12-31, the range
`Star.dimTempo` generates.

Everything is drawn from one `numpy.random.Generator` seeded by the
caller: the same seed gives byte-identical files and op order, another
seed gives other values with the same row counts.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# one unit: the row counts of the reference's own AdventureWorks load
# (BASELINE.md: 121,317 SalesOrderDetail lines, 19,820 customers, 504
# products, 17 vendors; the extract's SalesOrderHeader has 31,465 orders)
UNIT = {"customer": 19_820, "supplier": 17, "part": 504,
        "orders": 31_465, "lineitem": 121_317}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = ["almond", "blue", "hot", "large", "metallic", "navy", "red",
              "smoke", "steel", "tan"]
PART_NOUNS = ["bolt", "gear", "nut", "ring", "screw", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime.date(1970, 1, 1)
DAY0 = (datetime.date(1995, 1, 1) - EPOCH).days
NDAYS = (datetime.date(2001, 12, 31) - datetime.date(1995, 1, 1)).days + 1
DAY_US = 86_400_000_000
# rows per parquet part file: big tables become directories of parts so
# the scan splits across cores the same way at every scale
ROWS_PER_FILE = 750_000

# the 12 queries of StarBench.kpiSuite
KPI_OPS = ["kpi1", "kpi2", "kpi3", "kpi4", "kpi5", "kpi6", "kpi7", "kpi7_pais",
           "kpi8", "kpi9", "kpi10", "kpi8_pruned"]
# the dimensions built from a source table; dim_tempo is a generated
# calendar, so re-running it has nothing new to load
REFRESH_DIMS = ["dim_produto", "dim_cliente", "dim_vendedor", "dim_localidade"]
# reads of each KPI per measured block: 36 reads and 4 refreshes, so a
# tenth of the ops are writes
PASSES = 3
YEARS = list(range(1995, 2002))


def _pick(rng, words, n, null_frac=0.0):
    """n strings drawn from `words`; a `null_frac` share becomes null."""
    idx = rng.integers(0, len(words), n)
    out = np.array(words, dtype=object)[idx]
    if null_frac:
        out[rng.random(n) < null_frac] = None
    return out


def _money(rng, lo_cents, hi_cents, n):
    """Two-decimal amounts as doubles, the testdata's money encoding."""
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _ts(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _write(table, out_dir, name):
    """`<name>.parquet` as one file, or a directory of part files."""
    path = os.path.join(out_dir, f"{name}.parquet")
    n = table.num_rows
    if n <= ROWS_PER_FILE:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    for i, off in enumerate(range(0, n, ROWS_PER_FILE)):
        pq.write_table(table.slice(off, ROWS_PER_FILE),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _geo(out_dir):
    _write(pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS}), out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)],
                                pa.int32())}), out_dir, "nation")


def _dims(rng, replicas):
    """The three keyed dimension sources, as pyarrow tables."""
    nc, ns, np_ = (UNIT[t] * replicas for t in ("customer", "supplier", "part"))
    ck = np.arange(nc, dtype=np.int64)
    # some names carry edge blanks / doubled blanks so the dims' trim and
    # whitespace normalization have work to do
    cname = np.array([f"Customer#{k:09d}" for k in ck], dtype=object)
    pad = rng.random(nc) < 0.02
    cname[pad] = [f" {s} " for s in cname[pad]]
    customer = pa.table({
        "c_custkey": ck,
        "c_name": cname,
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc), pa.int32()),
        "c_acctbal": _money(rng, -99_999, 999_999, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc, null_frac=0.01)})
    sk = np.arange(ns, dtype=np.int64)
    sname = np.array([f"Supplier#{k:09d}" for k in sk], dtype=object)
    dbl = rng.random(ns) < 0.05
    sname[dbl] = [s.replace("#", "#  ") for s in sname[dbl]]
    supplier = pa.table({
        "s_suppkey": sk,
        "s_name": sname,
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns), pa.int32()),
        "s_acctbal": _money(rng, -99_999, 999_999, ns)})
    pk = np.arange(np_, dtype=np.int64)
    w = _pick(rng, PART_WORDS, np_)
    nn = _pick(rng, PART_NOUNS, np_)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(w, nn)],
        "p_brand": [None if b is None else f"Brand#{b}" for b in
                    _pick(rng, [str(i) for i in range(1, 26)], np_, 0.01)],
        "p_type": _pick(rng, PART_TYPES, np_, null_frac=0.01),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": _money(rng, 90_000, 210_000, np_)})
    return customer, supplier, part


def _facts(rng, replicas):
    """orders + lineitem, replica by replica with offset keys."""
    no, nl = UNIT["orders"], UNIT["lineitem"]
    nc, ns, np_ = UNIT["customer"], UNIT["supplier"], UNIT["part"]
    o_parts, l_parts = [], []
    for r in range(replicas):
        ok = r * no + np.arange(no, dtype=np.int64)
        odays = DAY0 + rng.integers(0, NDAYS, no)
        o_parts.append({
            "o_orderkey": ok,
            "o_custkey": r * nc + rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 100_000, 50_000_000, no),
            "o_orderdate": odays,
            "o_orderpriority": _pick(rng, PRIORITIES, no)})
        # lines land on orders at random; sorting makes line numbers a
        # running count inside each order, so (orderkey, linenumber) is
        # unique
        lo = np.sort(rng.integers(0, no, nl))
        lnum = np.arange(nl) - np.searchsorted(lo, lo, side="left") + 1
        qty = rng.integers(1, 51, nl)
        l_parts.append({
            "l_orderkey": r * no + lo,
            "l_partkey": r * np_ + rng.integers(0, np_, nl),
            "l_suppkey": r * ns + rng.integers(0, ns, nl),
            "l_linenumber": lnum.astype(np.int32),
            "l_quantity": qty.astype(np.float64),
            "l_extendedprice": qty * rng.integers(90_000, 210_000, nl) / 100.0,
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": odays[lo] + rng.integers(1, 122, nl)})

    def cat(parts, key):
        return np.concatenate([p[key] for p in parts])

    orders = pa.table({
        "o_orderkey": cat(o_parts, "o_orderkey"),
        "o_custkey": cat(o_parts, "o_custkey"),
        "o_orderstatus": cat(o_parts, "o_orderstatus"),
        "o_totalprice": cat(o_parts, "o_totalprice"),
        "o_orderdate": _ts(cat(o_parts, "o_orderdate")),
        "o_orderpriority": cat(o_parts, "o_orderpriority")})
    cols = {k: cat(l_parts, k) for k in l_parts[0]}
    cols["l_linenumber"] = pa.array(cols["l_linenumber"], pa.int32())
    cols["l_shipdate"] = _ts(cols["l_shipdate"])
    return orders, pa.table(cols)


def _perturb(rng, customer, supplier, part):
    """Version-B dimension sources: the SAME business keys (so surrogate
    keys, and the fact's references to them, are unchanged) with other
    attribute values, so a KPI joined to a refreshed dimension changes
    its answer."""
    nc, ns, np_ = customer.num_rows, supplier.num_rows, part.num_rows
    customer = customer.set_column(
        2, "c_nationkey", pa.array(rng.integers(0, N_NATIONS, nc), pa.int32()))
    supplier = supplier.set_column(
        1, "s_name", pa.array([f"Vendor#{k:09d}" for k in range(ns)]))
    supplier = supplier.set_column(
        2, "s_nationkey", pa.array(rng.integers(0, N_NATIONS, ns), pa.int32()))
    part = part.set_column(
        3, "p_type", pa.array(_pick(rng, PART_TYPES, np_, null_frac=0.01)))
    w = _pick(rng, PART_WORDS, np_)
    nn = _pick(rng, PART_NOUNS, np_)
    part = part.set_column(
        1, "p_name", pa.array([f"{a} {b}" for a, b in zip(w, nn)]))
    return customer, supplier, part


def _block(rng, passes):
    """Each KPI read `passes` times, each pass in a seeded order (kpi8_pruned
    with a seeded year), and each of REFRESH_DIMS refreshed once at a
    seeded place. Each refresh flips its dimension between the A and B
    sources."""
    reads = []
    for _ in range(passes):
        for i in rng.permutation(len(KPI_OPS)):
            q = KPI_OPS[int(i)]
            reads.append(f"kpi {q} {YEARS[int(rng.integers(len(YEARS)))]}"
                         if q == "kpi8_pruned" else f"kpi {q}")
    refreshes = [f"refresh {REFRESH_DIMS[int(i)]}"
                 for i in rng.permutation(len(REFRESH_DIMS))]
    n = len(reads) + len(refreshes)
    at = set(int(i) for i in rng.choice(n, len(refreshes), replace=False))
    r_it, q_it = iter(refreshes), iter(reads)
    return [next(r_it) if i in at else next(q_it) for i in range(n)]


def serve_ops(rng):
    """The serving ops: the pass (each KPI once, as the reference's
    KPIs.sql runs them, and each source-built dimension refreshed once,
    the `AwRun --table` re-run shape), then the `dw_serve` block: every
    query of the suite read PASSES times, with a tenth of the ops
    refreshes. Whole blocks keep the op mix the same from seed to seed,
    so percentiles compare across seeds."""
    return [_block(rng, 1), _block(rng, PASSES)]


def generate(out_dir, seed, replicas=1):
    """Write the corpus under `out_dir/src`, the perturbed dimension
    sources under `out_dir/src_b` and the serving ops as `out_dir/ops.txt`
    (one op a line, `block` between blocks). Returns the number of
    lineitem rows."""
    rng = np.random.default_rng(seed)
    src = os.path.join(out_dir, "src")
    os.makedirs(src, exist_ok=True)
    _geo(src)
    customer, supplier, part = _dims(rng, replicas)
    orders, lineitem = _facts(rng, replicas)
    for name, t in (("customer", customer), ("supplier", supplier),
                    ("part", part), ("orders", orders),
                    ("lineitem", lineitem)):
        _write(t, src, name)
    src_b = os.path.join(out_dir, "src_b")
    os.makedirs(src_b, exist_ok=True)
    _geo(src_b)
    for name, t in zip(("customer", "supplier", "part"),
                       _perturb(rng, customer, supplier, part)):
        _write(t, src_b, name)
    with open(os.path.join(out_dir, "ops.txt"), "w") as f:
        f.write("\nblock\n".join("\n".join(b) for b in
                                   serve_ops(rng)) + "\n")
    return lineitem.num_rows
