"""Seeded input generators. The same seed gives the same files; the engine
only ever reads these files (and, for the output checks, the ground truth
written beside them).

    star(dir, seed)         star schema with Zipf-skewed order->customer keys
    ref_join(dir, seed)     the reference join's two unique-key tables
    corpus(dir, seed)       document shards with planted duplicates + truth.tsv
    batches(dir, seed)      ordered micro-batches of events and documents

Each returns {table: (rows, bytes)}.
"""
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# star_olap sizes: about 0.08 of TPC-H sf1 for the fact tables
CUSTOMERS, ORDERS, LINES_PER_ORDER, PARTS, PRICE_EPOCHS, DAYS = 10_000, 80_000, 4, 10_000, 5, 2400
FILES_PER_TABLE = 4
REF_JOIN_ROWS = 1 << 20
# llm_curation sizes
SHARDS, DOCS_PER_SHARD, VOCAB, DIM, SPAN_LEN, SPANS, SPAN_COPIES = 2, 400, 20000, 16, 20, 4, 6
# incremental_mv sizes
BATCHES, EVENTS_PER_BATCH, DOCS_PER_BATCH, USERS = 8, 2000, 100, 2000


def _write(table, path, files=1):
    """Write `table` as `files` parquet files under directory `path`."""
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{i:05d}.parquet")
    return table.num_rows, sum(f.stat().st_size for f in path.iterdir())


def star(d, seed):
    rng = np.random.default_rng([seed, 1])
    d = Path(d)
    i32 = lambda a: pa.array(a, pa.int32())
    pick = lambda xs, n: pa.array(np.array(xs)[rng.integers(0, len(xs), n)])
    out = {}
    out["nation"] = _write(pa.table({
        "n_nationkey": np.arange(25), "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": np.arange(25) % 5}), d / "nation")
    out["customer"] = _write(pa.table({
        "c_custkey": np.arange(CUSTOMERS), "c_nationkey": rng.integers(0, 25, CUSTOMERS),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], CUSTOMERS),
        "c_acctbal_cents": rng.integers(-100_000, 1_000_000, CUSTOMERS)}), d / "customer", FILES_PER_TABLE)
    # Zipf(s=1) ranks by inverse CDF, rank = N^u: key 0 holds about ln2/lnN of all orders
    custkey = np.minimum(np.floor(CUSTOMERS ** rng.random(ORDERS)).astype(np.int64) - 1, CUSTOMERS - 1)
    out["orders"] = _write(pa.table({
        "o_orderkey": np.arange(ORDERS), "o_custkey": custkey,
        "o_orderday": i32(rng.integers(0, DAYS, ORDERS)),
        "o_totalprice_cents": rng.integers(0, 50_000_000, ORDERS),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], ORDERS)}),
        d / "orders", FILES_PER_TABLE)
    n = ORDERS * LINES_PER_ORDER
    qty = rng.integers(1, 51, n)
    out["lineitem"] = _write(pa.table({
        "l_orderkey": np.arange(n) // LINES_PER_ORDER, "l_linenumber": i32(np.arange(n) % LINES_PER_ORDER),
        "l_partkey": rng.integers(0, PARTS, n), "l_quantity": qty,
        "l_extprice_cents": qty * rng.integers(1000, 101_000, n), "l_discount_pct": rng.integers(0, 11, n),
        "l_returnflag": pick(["A", "N", "R"], n), "l_linestatus": pick(["F", "O"], n),
        "l_shipday": i32(rng.integers(0, DAYS + 120, n))}), d / "lineitem", FILES_PER_TABLE)
    out["part"] = _write(pa.table({
        "p_partkey": np.arange(PARTS),
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (PARTS, 2))],
        "p_size": rng.integers(1, 51, PARTS)}), d / "part")
    # price history: PRICE_EPOCHS distinct effective days per part, for the as-of join
    m = PARTS * PRICE_EPOCHS
    span = DAYS // PRICE_EPOCHS
    out["prices"] = _write(pa.table({
        "l_partkey": np.arange(m) // PRICE_EPOCHS,
        "eff_day": i32((np.arange(m) % PRICE_EPOCHS) * span + rng.integers(0, span, m)),
        "price_cents": rng.integers(100, 100_100, m)}), d / "prices", FILES_PER_TABLE)
    return out


def ref_join(d, seed):
    """Two (float64 key, float64 payload) tables whose keys are bijective
    shuffles of 0..n-1, as in the reference's join benchmark."""
    n = REF_JOIN_ROWS
    i = np.arange(n, dtype=np.int64)
    side = lambda mult, name: pa.table({
        "key": ((i * mult + seed * 7919) % n).astype(np.float64),
        name: ((i + seed) % 97).astype(np.float64)})
    d = Path(d)
    return {"ref_lhs": _write(side(2654435761, "payload_a"), d / "lhs", FILES_PER_TABLE),
            "ref_rhs": _write(side(40503, "payload_b"), d / "rhs", FILES_PER_TABLE)}


def _word(i):
    s, x = "w", i
    while True:
        s += chr(ord("a") + x % 26)
        x //= 26
        if x == 0:
            return s


def _shard(seed, shard, n, first):
    """One corpus shard and its truth. Planted copies get larger ids than their
    sources, so every planted source survives lowest-id-wins dedup; words are
    uniform over a large vocabulary, so no duplicate arises by chance."""
    rnd = random.Random(seed * 1_000_003 + shard)
    words = lambda k: [_word(rnd.randrange(VOCAB)) for _ in range(k)]
    n_base = n * 80 // 100
    bases = [words(50 + rnd.randrange(50)) for _ in range(n_base)]
    order = list(range(n_base))
    rnd.shuffle(order)
    spans = [words(SPAN_LEN) for _ in range(SPANS)]
    holders = order[:SPANS * SPAN_COPIES]
    truth = []
    for j, b in enumerate(holders):  # each span goes into SPAN_COPIES docs
        pos = rnd.randrange(len(bases[b]))
        # fenced by words unique to the doc, so no 15-gram reaching past the
        # span can repeat by chance and exactly SPAN_LEN tokens are duplicated
        bases[b][pos:pos] = [f"q{b}a"] + spans[j // SPAN_COPIES] + [f"q{b}z"]
        truth.append(("span", first + b, SPAN_LEN))
    free = order[len(holders):]
    n_copies = n - n_base
    exact_src, near_src = free[:n_copies // 2], free[n_copies // 2:n_copies]
    emb_src = free[n_copies:n_copies + n_base // 20]
    vecs = [[rnd.gauss(0, 1) for _ in range(DIM)] for _ in range(n_base)]
    for a, b in zip(emb_src[0::2], emb_src[1::2]):  # planted embedding neighbours
        vecs[b] = [x + 0.01 * rnd.gauss(0, 1) for x in vecs[a]]
        truth += [("emb", first + a, first + b), ("emb", first + b, first + a)]

    def styled(ws):  # casing, punctuation and spacing that normalization removes
        out = []
        for i, w in enumerate(ws):
            w = w.capitalize() if rnd.randrange(4) == 0 else w
            out.append(w + rnd.choice(",.") if i % 7 == 6 else w)
        return ("  " if rnd.randrange(3) == 0 else " ").join(out)

    ids, texts, embs = [], [], []
    for b in range(n_base):
        ids.append(first + b); texts.append(styled(bases[b])); embs.append(vecs[b])
    nxt = first + n_base
    for b in exact_src:  # exact copies: the same words, styled differently
        ids.append(nxt); texts.append(styled(bases[b])); embs.append([rnd.gauss(0, 1) for _ in range(DIM)])
        truth.append(("exact", first + b, 2))
        nxt += 1
    for b in near_src:  # near copies: two words replaced (3-shingle Jaccard >= 0.78)
        ws = list(bases[b])
        i1 = rnd.randrange(len(ws) // 2)
        i2 = len(ws) // 2 + rnd.randrange(len(ws) - len(ws) // 2)
        ws[i1], ws[i2] = _word(VOCAB + i1), _word(VOCAB + 1 + i2)
        ids.append(nxt); texts.append(styled(ws)); embs.append([rnd.gauss(0, 1) for _ in range(DIM)])
        truth.append(("near", first + b, nxt))
        nxt += 1
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                      "emb": pa.array(embs, pa.list_(pa.float64()))})
    return table, truth


def corpus(d, seed):
    d = Path(d)
    out, lines = {}, []
    for s in range(SHARDS):
        table, truth = _shard(seed, s, DOCS_PER_SHARD, s * DOCS_PER_SHARD * 2)
        out[f"shard{s}"] = _write(table, d / f"shard{s}", 2)
        lines += [f"{s}\t{k}\t{a}\t{b}" for k, a, b in truth]
    (d / "truth.tsv").write_text("\n".join(lines) + "\n")
    return out


def batches(d, seed):
    """Event and document micro-batches, one directory per batch. Some documents
    repeat an earlier text under a smaller doc_id (forcing retraction of the
    earlier survivor), some under a larger one, some as near copies."""
    rnd = random.Random(seed)
    d = Path(d)
    texts, next_id, retract_id = [], 1_000_000, 999_999
    rows = {"events": 0, "docs": 0}
    for b in range(BATCHES):
        users = [min(USERS - 1, int(USERS ** rnd.random()) - 1) for _ in range(EVENTS_PER_BATCH)]
        cents = [1 + rnd.randrange(10000) for _ in range(EVENTS_PER_BATCH)]
        _write(pa.table({"user_id": pa.array(users, pa.int64()), "cents": pa.array(cents, pa.int64())}),
               d / "events" / f"b={b}")
        ids, sources, out_texts = [], [], []
        for k in range(DOCS_PER_BATCH):
            r = rnd.randrange(100)
            if r < 6 and texts:
                retract_id -= 1
                doc_id, text = retract_id, rnd.choice(texts)
            elif r < 10 and texts:
                next_id += 1
                doc_id, text = next_id, rnd.choice(texts)
            elif r < 16 and texts:
                ws = rnd.choice(texts).split(" ")
                ws[rnd.randrange(len(ws) // 2)] = f"x{k}"
                ws[len(ws) // 2 + rnd.randrange(len(ws) - len(ws) // 2)] = f"y{k}"
                next_id += 1
                doc_id, text = next_id, " ".join(ws)
            else:
                next_id += 1
                doc_id, text = next_id, " ".join(_word(rnd.randrange(VOCAB)) for _ in range(40 + rnd.randrange(60)))
            texts.append(text)
            ids.append(doc_id); sources.append(f"src{k % 4}")
            out_texts.append(text.capitalize() if rnd.random() < 0.5 else text)
        _write(pa.table({"doc_id": pa.array(ids, pa.int64()), "source": sources, "text": out_texts}),
               d / "docs" / f"b={b}")
        rows["events"] += EVENTS_PER_BATCH
        rows["docs"] += DOCS_PER_BATCH
    size = lambda p: sum(f.stat().st_size for f in p.rglob("*.parquet"))
    return {k: (v, size(d / k)) for k, v in rows.items()}


WORKLOAD_INPUTS = {
    "star_olap": [("", star), ("ref", ref_join)],
    "llm_curation": [("", corpus), ("ref", ref_join)],
    "incremental_mv": [("", batches), ("ref", ref_join)],
}


def generate(workload, d, seed):
    """Every input of `workload` under directory `d`: {table: (rows, bytes)}."""
    out = {}
    for sub, fn in WORKLOAD_INPUTS[workload]:
        out.update(fn(Path(d) / sub if sub else Path(d), seed))
    return out
