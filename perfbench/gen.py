"""Seeded input generator for the four perfbench workloads.

Each workload's inputs have a fixed *structure* (row counts, duplicate
share, key skew, near-duplicate pairs, graph shape), drawn once from
STRUCTURE_SEED. The run seed only changes row *identities*: ids go through
a seeded bijection, text through a seeded letter bijection, vectors
through a seeded rotation (distances kept) and graph vertices through a
seeded id bijection. Corpus documents use an order-keeping letter
bijection into a wider lowercase alphabet, so kernels that break ties by
word order do the same work for every seed. So two seeds give inputs of
the same size and shape that share no ids or values, and one seed always
gives byte-identical files. Every run generates its inputs afresh into
its own directory, so set-up time always includes generation.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import random
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240601
WORKLOADS = ("warehouse_etl", "index_lifecycle", "corpus_kernels")

# sizes (rows) — also documented in perfbench/README.md
ETL_SURVEYS, ETL_GRID, ETL_POINTS = 48, 8, 8
ETL_BATCH_ROWS, ETL_DUP_SHARE = 400, 0.3
IDX_VECS, IDX_DIM, IDX_BATCHES, IDX_BATCH_VECS = 1200, 32, 2, 120
IDX_FRESH, IDX_COPIES, IDX_QUERIES, IDX_DEL_VECS = 20, 20, 16, 120
IDX_DOCS, IDX_BATCH_DOCS, IDX_DEL_DOCS = 300, 30, 30
CORPUS_DOCS, CORPUS_NAMES = 200, 300
GRAPH_EDGES, GRAPH_NODES = 1500, 500

WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data vector join customer index page rank label graph node edge "
         "text word token shard cache disk memory plan stage task driver "
         "worker commit version delta write read load store field record "
         "entry frame block split").split()
# document vocabulary: the words and three inflections, drawn uniformly, so
# unrelated documents share few word 3-shingles and the kernels' work is
# set by the planted duplicates, not by chance overlaps
VOCAB = WORDS + [w + s for s in ("s", "ed", "er") for w in WORDS]


def _letters(seed):
    """Seeded bijection over the lowercase letters."""
    src = list(string.ascii_lowercase)
    dst = src[:]
    random.Random(seed * 7919 + 1).shuffle(dst)
    return str.maketrans("".join(src), "".join(dst))


# lowercase letters in code-point order: ASCII, then Latin-1 à..ÿ (no ÷)
_LOWER = string.ascii_lowercase + "".join(
    chr(c) for c in range(0xE0, 0x100) if c != 0xF7)


def _ordered_letters(seed):
    """Seeded bijection from a..z onto 26 lowercase letters that keeps
    their order: text changes with the seed, but every comparison between
    two words (so every frequency tie a kernel breaks by word) goes the
    same way for every seed."""
    dst = sorted(random.Random(seed * 7919 + 2).sample(_LOWER, 26))
    return str.maketrans(string.ascii_lowercase, "".join(dst))


def _idmap(seed, n, base=0):
    """Seeded bijection from structural index 0..n-1 to a spread id."""
    ids = list(range(n))
    random.Random(seed * 104729 + n).shuffle(ids)
    return [base + i for i in ids]


def _write(path, table):
    pq.write_table(table, path, compression="snappy", use_dictionary=False,
                   write_statistics=True)


def gen_warehouse_etl(seed, out):
    rs = random.Random(STRUCTURE_SEED)
    tr = _letters(seed)
    survey_ids = _idmap(seed, ETL_SURVEYS, base=1000)
    codes = ["bare", "litter", "rock", "moss", "wood", "duff", "gravel",
             "water", "crust", "ash", "snow"]
    groups = ["soil", "organic", "mineral", "organic", "organic", "organic",
              "mineral", "other", "soil", "other", "other"]
    code_names = [c.translate(tr) for c in codes] + ["NA"]
    _write(f"{out}/code_meta.parquet", pa.table({
        "intercept_ground_code": pa.array(code_names[:-1], pa.string()),
        "ground_group": pa.array(groups, pa.string())}))
    years, dates = [], []
    for i in range(ETL_SURVEYS):
        y = 2019 + i % 7
        years.append(y)
        dates.append(dt.date(y, 4 + i % 5, 1 + (i * 3) % 27))
    seqs = ["2011-12" if y in (2011, 2012) else str(y) for y in years]
    _write(f"{out}/survey_meta.parquet", pa.table({
        "survey_ID": pa.array(survey_ids, pa.int32()),
        "year": pa.array(years, pa.int32()),
        "date": pa.array(dates, pa.date32()),
        "survey_sequence": pa.array(seqs, pa.string())}))
    grid_ids = _idmap(seed, 40, base=100)
    # skewed codes: a Zipf-like weight per code, NA ~8%
    weights = [1.0 / (k + 1) for k in range(len(codes))] + [0.3]

    def ground_row(s, g, p, r):
        code = r.choices(range(len(code_names)), weights)[0]
        return (survey_ids[s], grid_ids[g], p, code_names[code],
                None if r.random() < 0.1 else code_names[code],
                dates[s], years[s])

    base = [ground_row(s, (s * 3 + g) % 40, p, rs)
            for s in range(ETL_SURVEYS) for g in range(ETL_GRID)
            for p in range(1, ETL_POINTS + 1)]
    cols = ["survey_ID", "grid_point", "point", "intercept_ground_code",
            "intercept_1", "date", "year"]
    types = [pa.int32(), pa.int32(), pa.int32(), pa.string(), pa.string(),
             pa.date32(), pa.int32()]

    def tab(rows):
        return pa.table({c: pa.array([r[i] for r in rows], t)
                         for i, (c, t) in enumerate(zip(cols, types))})

    _write(f"{out}/ground.parquet", tab(base))
    # the ingest batch: a share of rows already present, the rest new keys
    n_dup = int(ETL_BATCH_ROWS * ETL_DUP_SHARE)
    dups = rs.sample(base, n_dup)
    fresh = [ground_row(s, (s * 3 + g) % 40, 1000 + j, rs)
             for j, (s, g) in enumerate(
                 (rs.randrange(ETL_SURVEYS), rs.randrange(ETL_GRID))
                 for _ in range(ETL_BATCH_ROWS - n_dup))]
    rows = dups + fresh
    rs.shuffle(rows)
    _write(f"{out}/batch.parquet", tab(rows))
    keys = {(r[0], r[1], r[2]) for r in base}
    expected_new = sum((r[0], r[1], r[2]) not in keys for r in fresh)
    # foliar cover (point intercepts of plants) — intercepts_pct in halves
    life = [("native", "annual", "forb"), ("native", "perennial", "grass"),
            ("nonnative", "annual", "grass"), ("native", "perennial", "shrub"),
            ("nonnative", "perennial", "forb")]
    species = _idmap(seed, 80, base=1)
    fol = []
    for s in range(ETL_SURVEYS):
        for g in range(ETL_GRID):
            for _ in range(5):
                k = min(int(rs.paretovariate(1.2)) - 1, 79)
                st, lc, lf = life[k % len(life)]
                code = ("NV" if rs.random() < 0.05
                        else ("pl" + codes[k % len(codes)]).translate(tr))
                fol.append((survey_ids[s], grid_ids[(s * 3 + g) % 40], code,
                            species[k], st.translate(tr), lc.translate(tr),
                            lf.translate(tr), rs.randrange(1, 40) / 2.0,
                            years[s], dates[s]))
    fcols = ["survey_ID", "grid_point", "key_plant_code", "key_plant_species",
             "plant_native_status", "plant_life_cycle", "plant_life_form",
             "intercepts_pct", "year", "date"]
    ftypes = [pa.int32(), pa.int32(), pa.string(), pa.int32(), pa.string(),
              pa.string(), pa.string(), pa.float64(), pa.int32(), pa.date32()]
    _write(f"{out}/foliar.parquet", pa.table(
        {c: pa.array([r[i] for r in fol], t)
         for i, (c, t) in enumerate(zip(fcols, ftypes))}))
    # supplemental species observations with planted bad rows: future
    # dates, dates that disagree with the survey, null required columns
    sup = []
    for s in range(ETL_SURVEYS):
        for j in range(12):
            g = grid_ids[(s * 3 + j % ETL_GRID) % 40]
            sp = species[min(int(rs.paretovariate(1.1)) - 1, 79)]
            d, y = dates[s], years[s]
            u = rs.random()
            if u < 0.05:
                d, y = dt.date(2099, d.month, d.day), 2099
            elif u < 0.10:
                d = d + dt.timedelta(days=1 + rs.randrange(30))
            if rs.random() < 0.04:
                sp = None
            sup.append((survey_ids[s], None if rs.random() < 0.02 else g,
                        y, sp, d))
    scols = ["survey_ID", "grid_point", "year", "key_plant_species", "date"]
    stypes = [pa.int32(), pa.int32(), pa.int32(), pa.int32(), pa.date32()]
    _write(f"{out}/species.parquet", pa.table(
        {c: pa.array([r[i] for r in sup], t)
         for i, (c, t) in enumerate(zip(scols, stypes))}))
    return {"expected_new": expected_new}


def _docs(rs, tr, n, near_dup_share, exact_share):
    """Bag-of-words documents with planted exact and near duplicates.
    Returns a list of (structural index, text)."""
    texts = []
    for i in range(n):
        u = rs.random()
        if texts and u < exact_share:
            texts.append(texts[rs.randrange(len(texts))])
        elif texts and u < exact_share + near_dup_share:
            # one token appended: Jaccard of word 3-shingles stays > 0.9
            toks = texts[rs.randrange(len(texts))].split(" ")
            toks.append(rs.choice(VOCAB).translate(tr))
            texts.append(" ".join(toks))
        else:
            ln = 40 + int(rs.paretovariate(1.5) * 10) % 60
            texts.append(" ".join(
                rs.choice(VOCAB).translate(tr) for _ in range(ln)))
    return texts


def _unit_rows(m):
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def gen_index_lifecycle(seed, out):
    rs = random.Random(STRUCTURE_SEED + 1)
    nr = np.random.default_rng(STRUCTURE_SEED + 1)
    tr = _letters(seed)
    nb, bv, nq, nc = IDX_BATCHES, IDX_BATCH_VECS, IDX_QUERIES, IDX_COPIES
    n_vec = IDX_VECS + nb * (bv + IDX_FRESH)
    centers = nr.normal(size=(24, IDX_DIM))
    vecs = centers[nr.integers(0, 24, size=n_vec)] + \
        0.35 * nr.normal(size=(n_vec, IDX_DIM))
    # deletions come from the base vectors; near-copies (cosine > 0.999,
    # for admission) only from base vectors that are never deleted
    order = nr.permutation(IDX_VECS)
    dels = order[:nb * IDX_DEL_VECS].reshape(nb, IDX_DEL_VECS)
    src = order[nb * IDX_DEL_VECS:][:nb * nc]
    copies = vecs[src] + 1e-3 * nr.normal(size=(nb * nc, IDX_DIM))
    queries = vecs[nr.integers(0, n_vec, size=nb * nq)] + \
        0.2 * nr.normal(size=(nb * nq, IDX_DIM))
    rot, _ = np.linalg.qr(np.random.default_rng(seed).normal(
        size=(IDX_DIM, IDX_DIM)))
    vecs, copies, queries = (_unit_rows(m) @ rot
                             for m in (vecs, copies, queries))
    ids = _idmap(seed, n_vec + len(copies) + len(queries), base=10)

    def vtab(idx, mat, off=0):
        return pa.table({
            "vec_id": pa.array([ids[off + i] for i in idx], pa.int64()),
            "embedding": pa.array([list(map(float, mat[i].astype(np.float32)))
                                   for i in idx], pa.list_(pa.float32()))})

    _write(f"{out}/vec_base.parquet", vtab(range(IDX_VECS), vecs))
    for j in range(nb):
        lo = IDX_VECS + j * (bv + IDX_FRESH)
        _write(f"{out}/vec_b{j}.parquet", vtab(range(lo, lo + bv), vecs))
        _write(f"{out}/fresh_b{j}.parquet",
               vtab(range(lo + bv, lo + bv + IDX_FRESH), vecs))
        _write(f"{out}/copy_b{j}.parquet",
               vtab(range(j * nc, (j + 1) * nc), copies, off=n_vec))
        _write(f"{out}/query_b{j}.parquet",
               vtab(range(j * nq, (j + 1) * nq), queries,
                    off=n_vec + len(copies)))
        _write(f"{out}/vec_del_b{j}.parquet", pa.table({
            "vec_id": pa.array([ids[i] for i in dels[j]], pa.int64())}))
    n_docs = IDX_DOCS + nb * IDX_BATCH_DOCS
    texts = _docs(rs, tr, n_docs, 0.15, 0.05)
    dids = _idmap(seed, n_docs, base=5)
    ddel = rs.sample(range(IDX_DOCS), nb * IDX_DEL_DOCS)

    def dtab(idx):
        return pa.table({"doc_id": pa.array([dids[i] for i in idx], pa.int64()),
                         "text": pa.array([texts[i] for i in idx],
                                          pa.string())})

    _write(f"{out}/doc_base.parquet", dtab(range(IDX_DOCS)))
    for j in range(nb):
        lo = IDX_DOCS + j * IDX_BATCH_DOCS
        _write(f"{out}/doc_b{j}.parquet", dtab(range(lo, lo + IDX_BATCH_DOCS)))
        _write(f"{out}/doc_del_b{j}.parquet", pa.table({"doc_id": pa.array(
            [dids[i] for i in ddel[j * IDX_DEL_DOCS:(j + 1) * IDX_DEL_DOCS]],
            pa.int64())}))
    # search terms: the most frequent words, so every search returns rows
    terms = [w.translate(tr) for w in WORDS[:8]]
    return {"batches": nb, "terms": terms,
            "sem_arrivals": nb * (IDX_FRESH + IDX_COPIES)}


def gen_corpus_kernels(seed, out):
    rs = random.Random(STRUCTURE_SEED + 2)
    tr = _letters(seed)
    texts = _docs(rs, _ordered_letters(seed), CORPUS_DOCS, 0.08, 0.04)
    dids = _idmap(seed, CORPUS_DOCS, base=0)
    _write(f"{out}/documents.parquet", pa.table({
        "doc_id": pa.array(dids, pa.int64()),
        "text": pa.array(texts, pa.string())}))
    # names for the edit-distance join: near-miss pairs planted
    names = []
    for i in range(CORPUS_NAMES):
        if names and rs.random() < 0.1:
            s = list(names[rs.randrange(len(names))])
            s[rs.randrange(len(s))] = rs.choice(string.ascii_lowercase)
            names.append("".join(s))
        else:
            names.append("".join(rs.choice(string.ascii_lowercase)
                                 for _ in range(8 + rs.randrange(6))))
    cids = _idmap(seed, CORPUS_NAMES, base=1)
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(cids, pa.int64()),
        "c_name": pa.array([n.translate(tr) for n in names], pa.string())}))
    gen_graph(seed, out)
    return {}


def gen_graph(seed, out):
    rs = random.Random(STRUCTURE_SEED + 3)
    vid = _idmap(seed, GRAPH_NODES, base=1)
    edges = set()
    # preferential-attachment-like skew: a few hubs, many leaves
    while len(edges) < GRAPH_EDGES:
        a = min(int(rs.paretovariate(0.9)) - 1, GRAPH_NODES - 1) \
            if rs.random() < 0.5 else rs.randrange(GRAPH_NODES)
        b = rs.randrange(GRAPH_NODES)
        if a != b:
            edges.add((a, b))
    edges = sorted(edges)
    rs.shuffle(edges)
    # a seeded 90% edge sample: same size for every seed
    keep = random.Random(seed).sample(range(len(edges)), int(0.9 * len(edges)))
    keep.sort()
    _write(f"{out}/edges.parquet", pa.table({
        "src": pa.array([vid[edges[k][0]] for k in keep], pa.int64()),
        "dst": pa.array([vid[edges[k][1]] for k in keep], pa.int64())}))



GENERATORS = {"warehouse_etl": gen_warehouse_etl,
              "index_lifecycle": gen_index_lifecycle,
              "corpus_kernels": gen_corpus_kernels}


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into the new directory
    `out`. Returns the generator's facts (expected counts and parameters),
    also written to `out/_facts.json`."""
    os.makedirs(out)
    facts = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "_facts.json"), "w") as f:
        json.dump(facts, f, sort_keys=True)
    return facts


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
