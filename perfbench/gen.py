"""Seeded input generators for the three benchmark workloads.

Everything the program sees comes from here; the seed fixes every table,
every batch and the order of every operation. The program never receives
the seed itself.

- ``harness_tables``: the ten sf-shaped parquet tables the named queries read
  (TPC-H-ish star schema plus events, documents and embeddings), with the
  schemas and value distributions of the sf0.1 harness tables.
- ``etl_batches``: one sf0.01-shaped directory per scheduled run, ``orders``
  as of a cut time T_i (activity-time CDC) plus an unchanged ``lineitem``,
  and the weekly summary each batch must converge to.
- ``store_ops``: the seed table of record, an op list of merges, deltas,
  deletes, reads and maintenance, and the model's expected results.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000,
           "documents": 5000, "embeddings": 2000}
# the sf0.01 shape the repo's own oracle runs use (Verify, tools/oracle_check.py)
SF_ROWS_SMALL = {k: v // 10 for k, v in SF_ROWS.items()} | {"embeddings": 500}
ORDER_FIRST = np.datetime64("1995-01-01", "D")
ORDER_LAST = np.datetime64("2001-08-01", "D")
SHIP_LAG_DAYS = 120
EPOCH = np.datetime64("1970-01-01", "D")
# 1970-01-01 is a Thursday: Monday-based week start = day - (day + 3) % 7
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def _rng(seed, stream):
    """Independent generator per (seed, stream name): adding a table or an op
    type never shifts the values of another."""
    key = [int(b) for b in stream.encode()]
    return np.random.default_rng(np.random.SeedSequence([seed & 0xFFFFFFFF] + key))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _ts(days):
    """Day numbers since the epoch -> timestamp[us] array (midnight)."""
    return pa.array(np.asarray(days, dtype="int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------- sf tables

def order_lines(seed, n):
    """orders and lineitem columns for row counts ``n``; shared by query_mix
    and etl_cdc, so the etl source is the same kind of data the queries read."""
    n_orders, n_lines = n["orders"], n["lineitem"]
    r = _rng(seed, "orders")
    span = int((ORDER_LAST - ORDER_FIRST).astype(int))
    odate = int((ORDER_FIRST - EPOCH).astype(int)) + r.integers(0, span + 1, n_orders)
    orders = {
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": r.integers(0, n["customer"], n_orders),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": odate,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[r.integers(0, 5, n_orders)]}
    r = _rng(seed, "lineitem")
    lok = r.integers(0, n_orders, n_lines)
    lines = {
        "l_orderkey": lok,
        "l_partkey": r.integers(0, n["part"], n_lines),
        "l_suppkey": r.integers(0, n["supplier"], n_lines),
        "l_linenumber": pa.array(r.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": r.integers(1, 51, n_lines).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_lines),
        "l_discount": r.integers(0, 11, n_lines) / 100.0,
        "l_tax": r.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_lines)],
        "l_shipdate": odate[lok] + r.integers(1, SHIP_LAG_DAYS + 1, n_lines)}
    return orders, lines


def write_days(path, cols, day_cols):
    _write(path, {k: _ts(v) if k in day_cols else v for k, v in cols.items()})


def harness_tables(seed, out, n=SF_ROWS):
    """Write the ten sf-shaped tables to ``out``, with row counts ``n``
    (SF_ROWS: sf0.1; SF_ROWS_SMALL: sf0.01)."""
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "customer")
    nc = n["customer"]
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[r.integers(0, 5, nc)]})
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})
    r = _rng(seed, "part")
    npart = n["part"]
    adj = np.array(["blue", "old", "large", "hot", "cold", "small", "new", "red"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"])
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, npart)], " "),
                              noun[r.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    orders, lines = order_lines(seed, n)
    write_days(f"{out}/orders.parquet", orders, {"o_orderdate"})
    write_days(f"{out}/lineitem.parquet", lines, {"l_shipdate"})
    r = _rng(seed, "events")
    ne = n["events"]
    t0 = int((np.datetime64("2024-01-01T00:00:00", "us") - np.datetime64(0, "us")).astype(int))
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, ne)) + t0
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, 1500, ne),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    _write(f"{out}/documents.parquet", documents(seed, n["documents"]))
    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    v = r.standard_normal((nv, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})


def documents(seed, n):
    """Random bag-of-words docs; 5% are near-duplicates (an earlier doc's text
    plus " dup"), the shape the dedup and near-dup queries expect."""
    r = _rng(seed, "documents")
    lens = r.integers(10, 101, n)
    vocab = np.array(WORDS)
    dups = set(r.choice(np.arange(1, n), size=n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), lens[i])]))
    lang = np.array(["en", "fr", "es", "zh", "de"])[
        np.minimum(4, (r.uniform(0, 1, n) * 100 // 15 - 2).clip(0).astype(int))]
    return {"doc_id": np.arange(n, dtype="int64"), "text": texts, "lang": lang,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64")}


# ---------------------------------------------------------------- etl_cdc

def week_start(days):
    return days - (days + 3) % 7


def weekly_summary(rday, ret):
    """Expected committed summary for a rental source: one row per Monday week
    from the first rental week to the last activity week, as
    (week_day, newly, returned, net, outstanding). ``ret`` is -1 when open."""
    returned = ret >= 0
    act = np.where(returned, np.maximum(rday, ret), rday)
    w0, w1 = week_start(rday.min()), week_start(act.max())
    weeks = np.arange(w0, w1 + 1, 7)
    idx = lambda d: (week_start(d) - w0) // 7
    nw = len(weeks)
    newly = np.bincount(idx(rday), minlength=nw)[:nw]
    rets = np.bincount(idx(ret[returned]), minlength=nw)[:nw]
    # outstanding at week end e = rented on/before e and (open or returned after e)
    ends = weeks + 6
    rented = np.searchsorted(np.sort(rday), ends, side="right")
    back = np.searchsorted(np.sort(ret[returned]), ends, side="right")
    # a returned rental counts as back at e only once it was also rented by e
    # (return >= rental in this generator, so back <= rented holds per row)
    out = rented - back
    return np.stack([weeks, newly, rets, newly - rets, out], axis=1)


ETL_BLOCK = 3


def etl_cuts(seed, n_batches):
    """Cut days for the backfill (index 0) and each scheduled run after it,
    in blocks of ETL_BLOCK runs with a fixed mix in seeded order: one 1-3
    day delta, one no-op rerun, one 10-40 day catch-up. A run times whole
    blocks, so every seed times the same mix."""
    r = _rng(seed, "etl_cuts")
    first = int((np.datetime64("2000-01-03", "D") - EPOCH).astype(int)) + int(r.integers(0, 28))
    gaps = []
    while len(gaps) < n_batches - 1:
        block = [int(r.integers(1, 4)), 0, int(r.integers(10, 41))]
        gaps += [block[j] for j in r.permutation(ETL_BLOCK)]
    return np.cumsum([first] + gaps[:n_batches - 1])


def etl_batches(seed, out, n_batches):
    """One sfDir per batch under ``out`` (``out``/b000 is the backfill).
    Returns per batch its directory name, the watermark (max last_update, as
    a day number) and the expected summary rows."""
    os.makedirs(out, exist_ok=True)
    orders, lines = order_lines(seed, SF_ROWS_SMALL)
    odate, status = orders["o_orderdate"], orders["o_orderstatus"]
    max_ship = np.full(len(odate), -1)
    np.maximum.at(max_ship, lines["l_orderkey"], lines["l_shipdate"])
    write_days(f"{out}/lineitem.parquet", lines, {"l_shipdate"})
    expected = []
    for i, cut in enumerate(etl_cuts(seed, n_batches)):
        # the source as of the cut: orders placed by then; an order reads
        # 'F' (returned) only once its last line has shipped
        keep = odate <= cut
        done = keep & (status == "F") & (max_ship >= 0) & (max_ship <= cut)
        st = np.where(done, "F", np.where(status == "F", "O", status))
        d = f"{out}/b{i:03d}"
        os.makedirs(d, exist_ok=True)
        write_days(f"{d}/orders.parquet", {k: (st if k == "o_orderstatus" else v)[keep]
                                           for k, v in orders.items()}, {"o_orderdate"})
        os.link(f"{out}/lineitem.parquet", f"{d}/lineitem.parquet")
        ret = np.where(done, max_ship, -1)[keep]
        rd = odate[keep]
        expected.append({"dir": f"b{i:03d}", "cut_day": int(cut),
                         "watermark_day": int(np.where(ret >= 0, np.maximum(rd, ret), rd).max()),
                         "summary": weekly_summary(rd, ret).tolist()})
    return expected


# ---------------------------------------------------------------- store_churn

STORE_ROWS = 150000
RENTAL_COLS = ["rental_id", "rental_date", "inventory_id", "customer_id",
               "return_date", "staff_id", "last_update"]
STORE_T0 = 1_100_000_000  # rental clock start, epoch seconds (2004-11-09)


def _rental_table(rows):
    """Model rows (epoch seconds, -1 = null) -> parquet columns."""
    to_ts = lambda s: pa.array(np.where(s >= 0, s, 0) * 1_000_000,
                               pa.timestamp("us", tz="UTC"), mask=s < 0)
    return {c: to_ts(rows[c]) if c in ("rental_date", "return_date", "last_update")
            else pa.array(rows[c], pa.int32() if c == "staff_id" else pa.int64())
            for c in RENTAL_COLS}


def fingerprint(rows):
    """Order-free digest of rental rows (a dict of column -> int64 arrays,
    timestamps as epoch seconds, null as -1). The harness computes the same
    sums in Spark: row count, then the sum of each column."""
    return [int(len(rows["rental_id"]))] + [int(np.asarray(rows[c], dtype="int64").sum())
                                            for c in RENTAL_COLS]


def store_ops(seed, out, n_blocks, rows=STORE_ROWS):
    """Seed table + op list for store_churn, with the model's expected answer
    for every read and the table's fingerprint after every op. Returns the
    op list with the seed state at index 0; ``ops.jsonl`` holds the rest.

    Model: one numpy array per column indexed by rental_id, with ``alive``
    marking live keys. Writes are skewed to recent/open keys."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "store")
    cap = rows + n_blocks * 600
    alive = np.zeros(cap, bool)
    rdate = np.full(cap, -1, "int64"); ret = np.full(cap, -1, "int64")
    inv = np.zeros(cap, "int64"); cust = np.zeros(cap, "int64")
    staff = np.zeros(cap, "int32"); lupd = np.full(cap, -1, "int64")
    ids = np.arange(cap, dtype="int64")
    clock = STORE_T0

    def rent(k, now):
        rdate[k] = now - r.integers(0, 3600, len(k)); inv[k] = r.integers(1, 4582, len(k))
        cust[k] = r.integers(1, 600, len(k)); staff[k] = r.integers(1, 3, len(k))
        ret[k] = -1; lupd[k] = now; alive[k] = True

    # seed history: 150k rentals over ~2 years, 95% of them returned
    k0 = np.arange(rows)
    rent(k0, 0)
    rdate[k0] = STORE_T0 + np.sort(r.integers(0, 2 * 365 * 86400, rows))
    back = r.uniform(size=rows) < 0.95
    ret[k0[back]] = rdate[k0[back]] + r.integers(3600, 10 * 86400, back.sum())
    lupd[k0] = np.maximum(rdate[k0], np.where(ret[k0] >= 0, ret[k0], 0))
    clock = int(lupd[k0].max()) + 60
    next_id = rows

    def snap(k):
        return {"rental_id": ids[k], "rental_date": rdate[k], "inventory_id": inv[k],
                "customer_id": cust[k], "return_date": ret[k], "staff_id": staff[k],
                "last_update": lupd[k]}

    _write(f"{out}/seed.parquet", _rental_table(snap(k0)))

    def recent(n, open_only):
        live = np.flatnonzero(alive[:next_id])
        if open_only:
            live = live[ret[live] < 0] if (ret[live] < 0).any() else live
        # skew toward recent keys: the newest 10% take ~80% of the picks
        tail = live[-max(1, len(live) // 10):]
        pick = np.where(r.uniform(size=n) < 0.8, r.choice(tail, n), r.choice(live, n))
        return np.unique(pick)

    ops = [{"op": "seed", "state": fingerprint(snap(k0))}]
    # each block: this fixed mix in seeded order, then maintenance as the
    # mains run it (compaction past 16 live files, retire + vacuum); a run
    # times whole blocks, so every seed times the same mix
    kinds = ["merge", "merge", "apply_delta", "delete",
             "read_keys", "read_keys", "read_range", "read_where"]
    plan = []
    for b in range(n_blocks):
        sizes = iter(r.permutation([20, 100, 400]))
        plan += [(b, kinds[j], int(next(sizes)) if kinds[j] in ("merge", "apply_delta") else 0)
                 for j in r.permutation(len(kinds))]
        plan += [(b, "optimize", 0), (b, "vacuum", 0)]
    for b, kind, size in plan:
        clock += int(r.integers(60, 3600))
        op = {"op": kind, "block": b}
        if kind in ("optimize", "vacuum"):
            op["state"] = ops[-1]["state"]
            ops.append(op)
            continue
        if kind in ("merge", "apply_delta"):
            n_new = int(r.integers(0, size + 1))
            rets = recent(size - n_new, open_only=True) if size > n_new else np.zeros(0, "int64")
            rets = rets[ret[rets] < 0]
            ret[rets] = clock; lupd[rets] = clock
            new = np.arange(next_id, next_id + n_new); next_id += n_new
            rent(new, clock)
            keys = np.concatenate([new, rets])
            name = f"op{len(ops):04d}.parquet"
            _write(f"{out}/{name}", _rental_table(snap(keys)))
            op["file"] = name
            op["rows"] = int(len(keys))
            if kind == "apply_delta":
                dk = recent(int(r.integers(1, 20)), open_only=False)
                dk = np.setdiff1d(dk, keys)
                alive[dk] = False
                op["delete_keys"] = dk.tolist()
        elif kind == "delete":
            dk = recent(int(r.integers(1, 50)), open_only=False)
            alive[dk] = False
            op["keys"] = dk.tolist()
        elif kind == "read_keys":
            k = recent(int(r.integers(10, 200)), open_only=False)
            k = np.concatenate([k, r.integers(0, next_id + 100, 5)])  # some misses
            op["keys"] = np.unique(k).tolist()
            hit = op["keys"]
            hit = np.array([x for x in hit if x < cap and alive[x]], dtype="int64")
            op["expect"] = fingerprint(snap(hit))
        elif kind == "read_range":
            # a window of recent keys (rental_id grows with rental time)
            width = int(r.choice([200, 1000, 5000]))
            hi = int(next_id - r.integers(0, 5 * width))
            op.update(lo=hi - width, hi=hi)
            sel = np.flatnonzero(alive[:next_id])
            sel = sel[(sel >= hi - width) & (sel <= hi)]
            op["expect"] = fingerprint(snap(sel))
        else:
            live = np.flatnonzero(alive[:next_id])
            lo_d, hi_d = rdate[live].min(), rdate[live].max()
            span = int(r.choice([86400, 7 * 86400, 30 * 86400]))
            # windows near the recent end most of the time
            lo = int(hi_d - span * r.integers(1, 6)) if r.uniform() < 0.7 else \
                int(r.integers(lo_d, hi_d - span))
            hi = lo + span
            sel = live[(rdate[live] >= lo) & (rdate[live] <= hi)]
            op.update(lo=lo, hi=hi, expect=fingerprint(snap(sel)))
        # the model's table after this op: the final-state check for a run
        # that stops here
        op["state"] = fingerprint(snap(np.flatnonzero(alive[:next_id])))
        ops.append(op)
    with open(f"{out}/ops.jsonl", "w") as f:
        f.writelines(json.dumps(op) + "\n" for op in ops[1:])
    return ops
