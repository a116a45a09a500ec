"""Seeded input generators, one per workload. The same seed gives the same
files; the program under test sees only these files.

daily    Reddit-style days of `;`-separated roh.csv, then the committed golden
         days. Synthetic posts draw words per subreddit from the golden posts,
         so the classifier has signal, and keep the golden share of empty,
         multi-line, `;`-bearing and quoted selftext, so the multiLine csv
         path runs on them.
curate   documents.parquet with planted exact and near duplicates at fixed
         shares, because dedup work depends on how much the inputs share.
queries  the TPC-H-style star schema plus events, documents and embeddings,
         with the schemas the declared queries read (FIXTURES.md section B).
"""
import csv
import datetime as dt
import io
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN = os.path.join("src", "test", "resources", "golden")
SUBREDDITS = ("datascience", "gameofthrones")


def _read_roh(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f, delimiter=";", quotechar='"'))


def _write_roh(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=";", quotechar='"', lineterminator="\n")
    w.writerow(["id", "title", "selftext", "subreddit"])
    w.writerows(rows)
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(buf.getvalue())


def golden_days(repo):
    return sorted(os.listdir(os.path.join(repo, GOLDEN)),
                  key=lambda d: dt.datetime.strptime(d, "%m-%d-%Y"))


def daily(repo, out, seed, synthetic_days, posts_per_day):
    """`synthetic_days` seeded days before the golden ones, then the golden
    roh.csv files byte for byte."""
    rng = np.random.default_rng(seed)
    gdays = golden_days(repo)
    posts = [p for d in gdays for p in _read_roh(os.path.join(repo, GOLDEN, d, "roh.csv"))]
    pools, titles, texts = {}, {}, {}
    for sr in SUBREDDITS:
        mine = [p for p in posts if p["subreddit"] == sr]
        pools[sr] = np.array([w for p in mine for w in (p["title"] + " " + p["selftext"]).split()])
        titles[sr] = np.array([len(p["title"].split()) for p in mine])
        texts[sr] = np.array([min(len(p["selftext"].split()), 200) for p in mine])
    share = lambda pred: sum(map(pred, posts)) / len(posts)
    shares = [share(lambda p: p["subreddit"] == SUBREDDITS[0]),
              share(lambda p: '"' in p["title"] + p["selftext"]),
              share(lambda p: ";" in p["title"] + p["selftext"]),
              share(lambda p: "\n" in p["selftext"])]

    first = dt.datetime.strptime(gdays[0], "%m-%d-%Y") - dt.timedelta(days=synthetic_days)
    next_id = int(rng.integers(36 ** 4, 36 ** 5))
    for d in range(synthetic_days):
        # exact shares and golden length multisets per day, so days differ
        # only in which words they draw, not in how much work they hold
        is_ds, quoted, semi, multi = (_exact(rng, posts_per_day, p) for p in shares)
        lengths = {}
        for sr, mask in ((SUBREDDITS[0], is_ds), (SUBREDDITS[1], ~is_ds)):
            k = int(mask.sum())
            lengths[sr] = iter(zip(np.resize(rng.permutation(titles[sr]), k),
                                   np.resize(rng.permutation(texts[sr]), k)))
        rows = []
        for i in range(posts_per_day):
            sr = SUBREDDITS[0] if is_ds[i] else SUBREDDITS[1]
            n_title, n_text = next(lengths[sr])
            title = " ".join(rng.choice(pools[sr], size=max(1, int(n_title))))
            body = list(rng.choice(pools[sr], size=int(n_text))) if n_text else []
            if body and quoted[i]:
                j = int(rng.integers(len(body)))
                body[j] = '"' + body[j] + '"'
            if body and semi[i]:
                body.insert(int(rng.integers(len(body))), ";")
            text = " ".join(body)
            if body and multi[i]:
                cut = int(rng.integers(len(text)))
                text = text[:cut].rstrip() + "\n\n" + text[cut:].lstrip()
            rows.append([_base36(next_id), title, text, sr])
            next_id += 1
        day = (first + dt.timedelta(days=d)).strftime("%m-%d-%Y")
        _write_roh(os.path.join(out, day, "roh.csv"), rows)
    for day in gdays:
        os.makedirs(os.path.join(out, day), exist_ok=True)
        shutil.copyfile(os.path.join(repo, GOLDEN, day, "roh.csv"),
                        os.path.join(out, day, "roh.csv"))


def _exact(rng, n, share):
    """A mask with exactly round(share * n) seeded positions set."""
    mask = np.zeros(n, bool)
    mask[rng.choice(n, size=int(round(share * n)), replace=False)] = True
    return mask


def _base36(n):
    s = ""
    while n:
        n, r = divmod(n, 36)
        s = "0123456789abcdefghijklmnopqrstuvwxyz"[r] + s
    return "x" + s


LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _vocab(rng, n):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "den", "par", "qu", "zel"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl, size=int(rng.integers(1, 4)))))
    return np.array(sorted(words))


def curate(out, seed, n_docs, exact_share=0.08, near_share=0.08, low_share=0.04):
    """documents.parquet with doc_id 0..n_docs-1. A planted exact duplicate
    copies an earlier document's text; a planted near duplicate copies it
    and replaces 5% of its tokens. The planted exact ids are written to
    planted_exact.txt for the checks."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 1500)
    # exact counts of each planted kind; doc 0 is always an original
    counts = [int(round(s * (n_docs - 1))) for s in (exact_share, near_share, low_share)]
    role = np.zeros(n_docs, int)
    role[1 + rng.permutation(n_docs - 1)[:sum(counts)]] = np.repeat([1, 2, 3], counts)
    texts = []
    for i in range(n_docs):
        if role[i] == 1:
            texts.append(texts[int(rng.integers(i))])
        elif role[i] == 2:
            toks = texts[int(rng.integers(i))].split(" ")
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = str(rng.choice(vocab))
            texts.append(" ".join(toks))
        elif role[i] == 3:
            # fails the quality gate: too short or too repetitive
            texts.append(" ".join([str(rng.choice(vocab))] * int(rng.integers(3, 40))))
        else:
            texts.append(" ".join(rng.choice(vocab, size=int(rng.integers(20, 120)))))
    exact = np.flatnonzero(role == 1)
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n_docs, p=LANG_P)),
        "source": [f"src{int(k)}" for k in rng.integers(0, 20, size=n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "planted_exact.txt"), "w") as f:
        f.write("\n".join(map(str, exact)) + "\n")


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, size=n)).astype("datetime64[us]")


def queries(out, seed, sf):
    """The ten fixture tables at scale factor `sf` (lineitem = 6e6 * sf)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = lambda base: max(1, int(round(base * sf)))
    write = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, size=k), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc, ns, np_, no, nl = n(150000), n(10000), n(200000), n(1500000), n(6000000)
    write("customer", {
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": list(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"], size=nc))})
    write("supplier", {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    write("part", {
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(np_)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=np_)],
        "p_type": list(rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                   "MEDIUM", "PROMO"], size=np_)),
        "p_size": pa.array(rng.integers(1, 51, size=np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], size=no)),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, "1995-01-01", 2404),
        "o_orderpriority": list(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], size=no))})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, size=nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, size=nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, size=nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, size=nl).astype(float),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, size=nl) / 100.0,
        "l_tax": rng.integers(0, 9, size=nl) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], size=nl)),
        "l_linestatus": list(rng.choice(["O", "F"], size=nl)),
        "l_shipdate": _days(rng, nl, "1995-01-02", 2498)})
    ne = n(1000000)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10 ** 6, size=ne)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 150, size=ne), pa.int64()),
        "event_type": list(rng.choice(["click", "view", "purchase", "signup", "error"], size=ne)),
        "value": money(0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=ne)]})
    words = np.array("a the row query stream fast spark line small customer group value hash "
                     "batch sort data big filter dup key agg scan slow table part merge window "
                     "order column join vector".split())
    nd = 500
    texts = [" ".join(rng.choice(words, size=int(rng.integers(10, 100)))) for _ in range(nd)]
    write("documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=nd, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    label = rng.integers(0, 10, size=nd)
    centers = rng.normal(size=(10, 64))
    vec = centers[label] + rng.normal(scale=1.5, size=(nd, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(nd), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
