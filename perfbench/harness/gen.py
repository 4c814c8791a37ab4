"""Seeded input generators.

Every table is a pure function of the seed: the same seed gives the same
parquet bytes, and `write_tables` returns their SHA-256 so a run can print
it. Schemas, physical parquet types and value domains follow the
fixture tables the engine's queries are written against (FIXTURES.md).
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (TESTDATA.md)
SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
    "documents": 5000, "embeddings": 2000,
}
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
EMB_DIM = 64
DAY_US = 86400 * 1000000
EPOCH_1992 = 694224000 * 1000000      # 1992-01-01 in epoch microseconds
EPOCH_2024 = 1704067200 * 1000000     # 2024-01-01


def _rng(seed, stream):
    """Independent generator per (seed, table) so adding a table does not
    shift the values of the others."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _vocab(n):
    """n distinct lowercase pseudo-words (deterministic, seed-free)."""
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    out, i = [], 0
    while len(out) < n:
        a, b, c, d = i % 18, (i // 18) % 5, (i // 90) % 18, (i // 1620) % 5
        out.append(cons[a] + vows[b] + cons[c] + vows[d] + ("r" if i >= 8100 else ""))
        i += 1
    return out


VOCAB = _vocab(3000)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _choice(rng, opts, n, p=None):
    return pa.array(np.array(opts, dtype=object)[rng.choice(len(opts), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _words(rng, n_docs, lo, hi):
    """n_docs space-separated texts of lo..hi tokens: ~15 % stopwords,
    the rest uniform over VOCAB (so unrelated documents share almost no
    3-word shingles)."""
    lens = rng.integers(lo, hi + 1, n_docs)
    total = int(lens.sum())
    stop = rng.random(total) < 0.15
    words = np.where(stop, np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), total)],
                     np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), total)])
    out, pos = [], 0
    for ln in lens:
        out.append(list(words[pos:pos + ln]))
        pos += ln
    return out


def tpch_tables(seed):
    """The ten fixture tables at sf0.1 size, as pyarrow tables."""
    n = SF01_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"])})
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])})
    r = _rng(seed, "part")
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "shiny", "old"], dtype=object)
    noun = np.array(["ring", "bolt", "screw", "gear", "nut", "pipe", "valve"], dtype=object)
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": pa.array(adj[r.integers(0, 8, np_)] + " " + noun[r.integers(0, 7, np_)], pa.string()),
        "p_brand": _choice(r, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _choice(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_),
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    r = _rng(seed, "orders")
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], no, dtype=np.int64),
        "o_orderstatus": _choice(r, ["F", "O", "P"], no),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1992 + r.integers(0, 2405, no) * DAY_US),
        "o_orderpriority": _choice(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, no, nl, dtype=np.int64),
        "l_partkey": r.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": r.integers(0, n["supplier"], nl, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], nl),
        "l_linestatus": _choice(r, ["F", "O"], nl),
        "l_shipdate": _ts(EPOCH_1992 + r.integers(1, 2526, nl) * DAY_US)})
    r = _rng(seed, "events")
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, ne))),
        "user_id": r.integers(0, 1500, ne, dtype=np.int64),
        "event_type": _choice(r, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)], pa.string())})
    docs = _words(_rng(seed, "documents"), n["documents"], 10, 90)
    t["documents"] = documents_table(docs, _rng(seed, "documents.meta"))
    t["embeddings"] = embeddings_table(
        _unit_rows(_rng(seed, "embeddings"), n["embeddings"]), _rng(seed, "embeddings.meta"))
    return t


def documents_table(docs, rng):
    texts = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], len(texts),
                        p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))], pa.string()),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _unit_rows(rng, n):
    v = rng.standard_normal((n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(vecs, rng):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, len(vecs)), pa.int32())})


def shingles(words, k=3):
    """Distinct word k-shingles, as Dedup.wordShingles/ShingleHashes
    define them (consecutive k-token windows of the ' '-split text)."""
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a, b):
    u = len(a | b)
    return 1.0 if u == 0 else len(a & b) / u


# Planted near-duplicate pairs keep their exact Jaccard outside this band
# around the 0.8 threshold; inside it MinHash LSH (16 bands x 4 rows) is a
# coin flip by design, so a miss there would not be a defect.
ABOVE = (0.85, 0.98)
BELOW = (0.50, 0.75)


def corpus(seed, scale):
    """The llm_corpus inputs: sf0.1's documents and embeddings x `scale`,
    plus planted truth.

    Documents: near-duplicate clusters of 2-3 members are planted on both
    sides of the 0.8 Jaccard threshold (every intra-cluster pair is
    recorded with its exact 3-shingle Jaccard). Embeddings: each query
    vector (ids below n_queries) gets one planted neighbour, a lightly
    perturbed copy, which must rank first.
    """
    rng = _rng(seed, "corpus")
    n_docs = SF01_ROWS["documents"] * scale
    n_clusters = n_docs // 25
    base = _words(rng, n_docs - n_clusters * 3, 30, 120)
    docs, clusters = list(base), []
    roots = rng.choice(len(base), n_clusters, replace=False)
    for c, root in enumerate(roots):
        lo, hi = ABOVE if c % 2 == 0 else BELOW
        size = 2 + int(rng.integers(0, 2))
        for attempt in range(60):
            if attempt == 30:
                size = 2        # a 3-cluster kept landing a pair in the band
            members = [base[root]] + [_mutate(rng, base[root], lo, hi)
                                      for _ in range(size - 1)]
            sets = [shingles(m) for m in members]
            pairs = [(i, j, jaccard(sets[i], sets[j]))
                     for i in range(size) for j in range(i + 1, size)]
            if all(not (BELOW[1] < jv < ABOVE[0]) for _, _, jv in pairs):
                break
        else:
            raise RuntimeError(f"cluster {c}: no variant outside the threshold band")
        clusters.append((members[1:], pairs, int(root)))
    # the root stays at its base position; variants are appended, then all
    # ids are shuffled so clusters are not adjacent
    member_pos = []
    for variants, pairs, root in clusters:
        pos = [root]
        for v in variants:
            pos.append(len(docs))
            docs.append(v)
        member_pos.append((pos, pairs))
    perm = rng.permutation(len(docs))        # new id of old position p = inv[p]
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(docs))
    docs = [docs[p] for p in perm]
    planted = {}
    for pos, pairs in member_pos:
        for i, j, jv in pairs:
            a, b = sorted((int(inv[pos[i]]), int(inv[pos[j]])))
            if a != b:
                planted[(a, b)] = max(planted.get((a, b), 0.0), jv)
    n_vec = SF01_ROWS["embeddings"] * scale
    n_queries = 64
    vecs = _unit_rows(rng, n_vec)
    targets = rng.choice(np.arange(n_queries, n_vec), n_queries, replace=False)
    for q, t in enumerate(targets):
        v = vecs[q] + 0.05 * rng.standard_normal(EMB_DIM) / np.sqrt(EMB_DIM)
        vecs[t] = (v / np.linalg.norm(v)).astype(np.float32)
    tables = {"documents": documents_table(docs, _rng(seed, "corpus.meta")),
              "embeddings": embeddings_table(vecs, _rng(seed, "corpus.emb"))}
    truth = {
        "threshold": 0.8,
        "n_docs": len(docs),
        "n_vectors": n_vec,
        "n_queries": n_queries,
        "planted_pairs": sorted([a, b, round(jv, 6)] for (a, b), jv in planted.items()),
        "planted_neighbors": [[q, int(t)] for q, t in enumerate(targets)],
        "n_tokens": sum(len(d) for d in docs),
        "bpe_tokens": sum((len(w) + 3) // 4 for d in docs for w in d),
    }
    return tables, truth


def _mutate(rng, words, lo, hi):
    """Copy of `words` with random tokens substituted until its Jaccard
    to the original falls in [lo, hi]."""
    target = (lo + hi) / 2
    # each substitution breaks up to 3 shingles: solve J ~ (S-3s)/(S+3s)
    s_words = shingles(words)
    n = len(s_words)
    k = max(1, int(round(n * (1 - target) / (3 * (1 + target)))))
    for _ in range(40):
        out = list(words)
        for p in rng.choice(len(words), min(k, len(words)), replace=False):
            out[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        jv = jaccard(s_words, shingles(out))
        if lo <= jv <= hi:
            return out
        k = max(1, k + (1 if jv > hi else -1))
    return out


def write_tables(tables, out_dir, files=None):
    """Write each table as parquet and return the SHA-256 over all file
    bytes in table-name order. A table is one single-row-group file (the
    fixture layout BenchLayout.relayout expects) unless `files` asks for
    several, in which case `<name>.parquet` is a directory of parts."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        t, n = tables[name], (files or {}).get(name, 1)
        path = os.path.join(out_dir, f"{name}.parquet")
        parts = [path] if n == 1 else [os.path.join(path, f"part-{i:05d}.parquet") for i in range(n)]
        if n > 1:
            os.makedirs(path, exist_ok=True)
        step = -(-t.num_rows // n)
        for i, p in enumerate(parts):
            piece = t.slice(i * step, step)
            pq.write_table(piece, p, compression="snappy", row_group_size=max(1, piece.num_rows))
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)
