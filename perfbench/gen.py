"""Seeded input generator for the workload benchmark.

One seed drives every table. The same seed gives byte-identical parquet;
another seed gives other rows of the same shape and size, so timings
compare across seeds. Tables are written in the engine's canonical
schemas (``Tables.canon``): ``events`` for the dashboard workload and
the pipeline run that builds its lake, ``documents`` and ``embeddings`` for curation, plus one-row
star-schema tables so the whole directory passes
``SchemaReport.assertConformable``.

The planted structure is returned as a plain dict (``plan``) that the
runner checks the engine's outputs against.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(2023, 1, 1)

# dashboard shape: HISTORY_DAYS backfilled, then one day replayed by runDay
HISTORY_DAYS = 28           # under 32 date partitions per lake table
N_SYMBOLS = 48              # Zipf-active symbols, rank 0 densest
BURST_SYMBOLS = 150         # new listings, trading on three consecutive days
ORPHANS = 3                 # symbols that first trade on the replay day
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

# curate shape
N_DOCS = 6000
N_BENCH = 300
BATCHES = 1
BATCH_DOCS = 400
N_VECS = 2000
DIM = 64
VOCAB = 4000
SOURCES = [f"src{i}" for i in range(8)]
LANGS = ["en", "en", "en", "de", "fr", "es"]
STOPWORDS = ["the", "a", "an", "of", "to", "in", "and", "is"]


def rng(seed, stream):
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's draws."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def zipf_weights(n, s):
    """Normalized Zipf weights over ranks 1..n with exponent s."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def zipf_sample(r, n, s, size):
    """`size` ranks in [0, n) drawn from a Zipf(s) law truncated at n."""
    return r.choice(n, size=size, p=zipf_weights(n, s))


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def day_of(i):
    return EPOCH + dt.timedelta(days=i)


# ─────────────────────────── events ───────────────────────────

def events_table(seed):
    """Daily trading activity for the dashboard workload.

    Symbol ``i`` trades on a day with probability ``min(1, 3/(i+1))``:
    a dense head and a sparse tail whose symbols have too few rows for the
    day path's windows (its short-context fallbacks). The ``ORPHANS`` last
    tail symbols have no history and first trade on the replay day
    (the orphan fallback). Two days before the replay day
    ``BURST_SYMBOLS`` new symbols list and trade on three consecutive days:
    the planted distribution shift. Their middle day becomes one feature
    row each when the replay day's close labels it, which grows the
    feature frame past the model's 10 % refit bound on exactly that day.
    """
    r = rng(seed, "events")
    n_days = HISTORY_DAYS + 1
    rows_day, rows_sym = [], []
    p_active = np.minimum(1.0, 3.0 / np.arange(1, N_SYMBOLS + 1))
    for d in range(n_days):
        act = np.nonzero(r.random(N_SYMBOLS) < p_active)[0]
        rows_sym.append(act)
        rows_day.append(np.full(len(act), d))
    orphan_ids = np.arange(N_SYMBOLS - ORPHANS, N_SYMBOLS)
    day = np.concatenate(rows_day)
    sym = np.concatenate(rows_sym)
    # orphans: no rows before the replay window
    keep = ~(np.isin(sym, orphan_ids) & (day < HISTORY_DAYS))
    day, sym = day[keep], sym[keep]
    # the orphans all list on the replay day
    day = np.concatenate([day, np.full(ORPHANS, HISTORY_DAYS)])
    sym = np.concatenate([sym, orphan_ids])
    burst_day = HISTORY_DAYS - 2
    for d in range(burst_day, burst_day + 3):
        day = np.concatenate([day, np.full(BURST_SYMBOLS, d)])
        sym = np.concatenate([sym, N_SYMBOLS + np.arange(BURST_SYMBOLS)])
    uniq = np.unique(day * 100000 + sym)
    day, sym = uniq // 100000, uniq % 100000
    # events per active symbol-day: more for the head
    lam = np.where(sym < N_SYMBOLS, 12.0 / np.sqrt(sym + 1.0), 2.0)
    n_ev = 1 + r.poisson(lam)
    # per-symbol price level and a daily random walk
    n_sym = N_SYMBOLS + BURST_SYMBOLS
    level = np.exp(r.uniform(np.log(5.0), np.log(400.0), n_sym))
    walk = np.cumsum(r.normal(0.0, 0.02, (n_sym, n_days)), axis=1)
    ev_day = np.repeat(day, n_ev)
    ev_sym = np.repeat(sym, n_ev)
    price = level[ev_sym] * np.exp(walk[ev_sym, ev_day])
    value = np.round(price * (1.0 + r.normal(0.0, 0.01, len(ev_day))), 2)
    value = np.maximum(value, 0.01)
    sec = r.integers(0, 86400 * 1000000, len(ev_day))
    ts = (np.datetime64(EPOCH.isoformat(), "us")
          + ev_day.astype("timedelta64[D]").astype("timedelta64[us]")
          + sec.astype("timedelta64[us]"))
    order = np.lexsort((ev_sym, ts))
    n = len(order)
    etype = np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)]
    props = np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(ev_sym[order].astype(np.int64)),
        "event_type": pa.array(etype),
        "value": pa.array(value[order]),
        "props": pa.array(props),
    })
    plan = {
        "history_days": HISTORY_DAYS,
        "replay_day": day_of(HISTORY_DAYS).isoformat(),
        "burst_day": day_of(burst_day).isoformat(),
        # the burst's first feature rows (their second day, labelled by
        # the third) reach the frame two days after the listing
        "refit_day": day_of(burst_day + 2).isoformat(),
        "head_symbols": N_SYMBOLS,
        "view_start": day_of(HISTORY_DAYS - 14).isoformat(),
        "view_end": day_of(HISTORY_DAYS).isoformat(),
        "planted_refits": 1,
        "orphans": [int(x) for x in orphan_ids],
        "events": n,
        "symbols": int(len(np.unique(sym))),
    }
    return table, plan


# ─────────────────────────── corpus ───────────────────────────

def _words(r):
    """A fixed-size synthetic vocabulary of pronounceable tokens."""
    cons, vow = list("bcdfghklmnprstvz"), list("aeiou")
    out, seen = [], set(STOPWORDS)
    while len(out) < VOCAB:
        k = int(r.integers(2, 5))
        w = "".join(cons[int(r.integers(0, 16))] + vow[int(r.integers(0, 5))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _doc(r, vocab, p, length):
    toks = vocab[r.choice(len(vocab), size=length, p=p)]
    stop = r.random(length) < 0.15
    toks = np.where(stop, np.array(STOPWORDS)[r.integers(0, len(STOPWORDS), length)], toks)
    return " ".join(toks)


def _perturb(r, text, vocab, frac):
    """Replace about `frac` of the tokens: a near duplicate."""
    toks = text.split(" ")
    n = max(1, int(round(len(toks) * frac)))
    for i in r.choice(len(toks), size=n, replace=False):
        toks[i] = vocab[int(r.integers(0, len(vocab)))]
    return " ".join(toks)


def _plantable(text):
    """Whether a doc can seed a planted duplicate: short and repetitive
    texts may also occur by chance elsewhere (merging with the group) and
    share too few distinct 3-grams for near-duplicate detection or the
    5-gram decontamination threshold, so their plants would not be known
    ground truth."""
    toks = text.split(" ")
    return len(toks) >= 40 and len(set(toks)) >= 20


def corpus_tables(seed):
    """Documents, incremental batches, a held-out bench set and embeddings.

    Planted: exact-duplicate groups (sizes 2–4), near-duplicate groups
    (5 % of tokens replaced, Jaccard of 3-gram sets well above 0.5),
    per-source boilerplate footers, short and repetitive docs, bench
    items copied verbatim from train docs, and near-duplicate embedding
    vectors. Batch doc ids continue the corpus ids, and batch docs
    re-plant near copies of corpus docs.
    """
    r = rng(seed, "corpus")
    vocab = _words(r)
    p = zipf_weights(VOCAB, 1.05)
    texts, src = [], []
    exact_groups, near_groups = [], []
    footers = {s: " ".join(vocab[r.integers(0, VOCAB, 12)]) for s in SOURCES}

    def add(text, s):
        texts.append(text)
        src.append(s)
        return len(texts) - 1

    def fresh():
        s = SOURCES[int(zipf_sample(r, len(SOURCES), 1.0, 1)[0])]
        kind = r.random()
        if kind < 0.03:                         # short doc
            body = _doc(r, vocab, p, int(r.integers(2, 5)))
        elif kind < 0.05:                       # repetitive doc
            body = " ".join([vocab[int(r.integers(0, 50))]] * int(r.integers(30, 60)))
        else:
            body = _doc(r, vocab, p, int(r.integers(40, 160)))
        if r.random() < 0.3:                    # per-source boilerplate
            body = body + " " + footers[s]
        return body, s

    def plant(n_docs, first_id):
        """Fill ids [first_id, first_id + n_docs) with fresh docs, then
        overwrite a share of them with exact and near copies."""
        base = len(texts)
        for _ in range(n_docs):
            add(*fresh())
        ids = r.permutation(np.arange(base, base + n_docs))
        used = 0
        for _ in range(n_docs // 40):           # exact groups
            k = int(r.integers(2, 5))
            g = [int(x) for x in ids[used:used + k]]
            used += k
            if not _plantable(texts[g[0]]):
                continue
            for j in g[1:]:
                texts[j], src[j] = texts[g[0]], src[g[0]]
            exact_groups.append([first_id - base + j for j in g])
        for _ in range(n_docs // 40):           # near groups
            k = int(r.integers(2, 4))
            g = [int(x) for x in ids[used:used + k]]
            used += k
            if not _plantable(texts[g[0]]):
                continue
            for j in g[1:]:
                texts[j], src[j] = _perturb(r, texts[g[0]], vocab, 0.05), src[g[0]]
            near_groups.append([first_id - base + j for j in g])

    plant(N_DOCS, 0)
    batch_ranges = []
    for b in range(BATCHES):
        first = len(texts)
        plant(BATCH_DOCS, first)
        # cross-batch planted copies: a near copy of a corpus doc
        for _ in range(BATCH_DOCS // 30):
            j = int(r.integers(first, first + BATCH_DOCS))
            i = int(r.integers(0, N_DOCS))
            if _plantable(texts[i]):
                texts[j], src[j] = _perturb(r, texts[i], vocab, 0.05), src[i]
                near_groups.append([i, j])
        batch_ranges.append([first, first + BATCH_DOCS])
    n = len(texts)
    lang = np.array(LANGS)[r.integers(0, len(LANGS), n)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(src),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    # bench set: half copied verbatim out of train docs, half fresh
    bench_texts, leaked = [], []
    for i in range(N_BENCH):
        j = int(r.integers(0, N_DOCS))
        if i % 2 == 0 and _plantable(texts[j]):
            bench_texts.append(texts[j])
            leaked.append(j)
        else:
            bench_texts.append(fresh()[0])
    bench = pa.table({
        "doc_id": pa.array(np.arange(N_BENCH, dtype=np.int64)),
        "text": pa.array(bench_texts),
    })
    # embeddings: random unit vectors, with near-duplicate groups
    vecs = r.normal(0.0, 1.0, (N_VECS, DIM))
    vec_groups = []
    ids = r.permutation(N_VECS)
    for g in range(N_VECS // 50):
        a, b = int(ids[2 * g]), int(ids[2 * g + 1])
        vecs[b] = vecs[a] + r.normal(0.0, 0.03, DIM)
        vec_groups.append(sorted([a, b]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, N_VECS).astype(np.int32)),
    })
    plan = {
        "docs": n,
        "corpus_docs": N_DOCS,
        "batches": batch_ranges,
        "exact_groups": exact_groups,
        "near_groups": near_groups,
        "leaked_bench_docs": sorted(set(leaked)),
        "vec_groups": vec_groups,
    }
    return docs, bench, emb, plan


# ─────────────────────────── star schema ───────────────────────────

def star_tables():
    """One row per star-schema table: the conformance check reads every
    canonical table, and these workloads read none of them."""
    ts = pa.array([dt.datetime(2023, 1, 1)], pa.timestamp("us", tz="UTC"))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    return {
        "region": pa.table({"r_regionkey": pa.array([0], i32), "r_name": ["R"]}),
        "nation": pa.table({"n_nationkey": pa.array([0], i32), "n_name": ["N"],
                            "n_regionkey": pa.array([0], i32)}),
        "customer": pa.table({"c_custkey": pa.array([1], i64), "c_name": ["C"],
                              "c_nationkey": pa.array([0], i32),
                              "c_acctbal": pa.array([1.0], f64), "c_mktsegment": ["M"]}),
        "supplier": pa.table({"s_suppkey": pa.array([1], i64), "s_name": ["S"],
                              "s_nationkey": pa.array([0], i32),
                              "s_acctbal": pa.array([1.0], f64)}),
        "part": pa.table({"p_partkey": pa.array([1], i64), "p_name": ["P"],
                          "p_brand": ["B"], "p_type": ["T"],
                          "p_size": pa.array([1], i32), "p_retailprice": pa.array([1.0], f64)}),
        "orders": pa.table({"o_orderkey": pa.array([1], i64), "o_custkey": pa.array([1], i64),
                            "o_orderstatus": ["O"], "o_totalprice": pa.array([1.0], f64),
                            "o_orderdate": ts, "o_orderpriority": ["1"]}),
        "lineitem": pa.table({"l_orderkey": pa.array([1], i64), "l_partkey": pa.array([1], i64),
                              "l_suppkey": pa.array([1], i64), "l_linenumber": pa.array([1], i32),
                              "l_quantity": pa.array([1.0], f64),
                              "l_extendedprice": pa.array([1.0], f64),
                              "l_discount": pa.array([0.0], f64), "l_tax": pa.array([0.0], f64),
                              "l_returnflag": ["N"], "l_linestatus": ["O"], "l_shipdate": ts}),
    }


def generate(seed, out_dir, workload="all"):
    """Write the tables `workload` reads for `seed` under `out_dir`, plus
    one-row stand-ins for the canonical tables it does not read; writes
    the planted facts the runner reads to `plan.txt`; returns the plan."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in star_tables().items():
        write(t, os.path.join(out_dir, f"{name}.parquet"))
    plan = {"seed": seed}
    if workload in ("all", "dashboard"):
        events, plan["events"] = events_table(seed)
    else:
        events = stand_in_events()
    write(events, os.path.join(out_dir, "events.parquet"))
    if workload in ("all", "curate"):
        docs, bench, emb, plan["corpus"] = corpus_tables(seed)
        write(bench, os.path.join(out_dir, "bench_docs.parquet"))
        write(planted_table(plan["corpus"]), os.path.join(out_dir, "planted.parquet"))
    else:
        docs, emb = stand_in_corpus()
    write(docs, os.path.join(out_dir, "documents.parquet"))
    write(emb, os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "plan.txt"), "w") as f:
        f.write(plan_text(plan))
    return plan


def stand_in_events():
    ts = pa.array([dt.datetime(2023, 1, 1)], pa.timestamp("us", tz="UTC"))
    return pa.table({"event_id": pa.array([0], pa.int64()), "ts": ts,
                     "user_id": pa.array([0], pa.int64()), "event_type": ["view"],
                     "value": pa.array([1.0]), "props": ['{"k": 0}']})


def stand_in_corpus():
    docs = pa.table({"doc_id": pa.array([0], pa.int64()), "text": ["a"], "lang": ["en"],
                     "source": ["src0"], "n_chars": pa.array([1], pa.int64())})
    emb = pa.table({"vec_id": pa.array([0], pa.int64()),
                    "embedding": pa.array([[1.0] * DIM], pa.list_(pa.float32())),
                    "label": pa.array([0], pa.int32())})
    return docs, emb


def planted_table(c_plan):
    """The planted corpus structure as rows (kind, grp, id) for the runner:
    kinds `exact`, `near` and `vec` are groups, `leak` lists train docs
    copied into the bench set."""
    kind, grp, ids = [], [], []
    for k in ("exact", "near", "vec"):
        for g, members in enumerate(c_plan[f"{k}_groups"]):
            kind += [k] * len(members)
            grp += [g] * len(members)
            ids += members
    leak = c_plan["leaked_bench_docs"]
    kind += ["leak"] * len(leak)
    grp += list(range(len(leak)))
    ids += leak
    return pa.table({"kind": pa.array(kind), "grp": pa.array(grp, pa.int64()),
                     "id": pa.array(ids, pa.int64())})


def plan_text(plan):
    """The planted facts the runner reads, as `key=value` lines."""
    kv = {"seed": plan["seed"]}
    if "events" in plan:
        e = plan["events"]
        kv.update({
            "replay_day": e["replay_day"],
            "planted_refits": e["planted_refits"],
            "head_symbols": e["head_symbols"],
            "view_start": e["view_start"],
            "view_end": e["view_end"],
        })
    if "corpus" in plan:
        c = plan["corpus"]
        kv.update({
            "corpus_docs": c["corpus_docs"],
            "batches": ",".join(f"{a}-{b}" for a, b in c["batches"]),
        })
    return "".join(f"{k}={v}\n" for k, v in kv.items())


def digest(out_dir):
    """sha256 over every file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
