"""Output checks, run after the timed window. Each returns a list of failure
messages; every message counts as one failed operation."""
import csv
import glob
import os

import duckdb
import pyarrow.parquet as pq

import gen


def _csv_rows(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f, delimiter=";", quotechar='"'))


def _spark_csv(target_dir):
    parts = sorted(glob.glob(os.path.join(target_dir, "part-*.csv")))
    return [r for p in parts for r in _csv_rows(p)]


def daily(repo, data, round_dirs):
    """Each golden day's cleaned.csv equals the committed golden file (as a
    multiset of rows), and every input post id appears exactly once in its
    day's ergebnis.csv, with the input's subreddit and a label that agrees
    with the prediction."""
    fails = []
    golden = set(gen.golden_days(repo))
    days = sorted(os.listdir(data))
    for base in round_dirs:
        for day in days:
            out = os.path.join(base, "daily", day)
            if day in golden:
                want = _csv_rows(os.path.join(repo, gen.GOLDEN, day, "cleaned.csv"))
                got = _spark_csv(os.path.join(out, "cleaned.csv"))
                key = lambda r: (r["id"], r["cleaned_words"] or "", r["subreddit"])
                if sorted(map(key, want)) != sorted(map(key, got)):
                    fails.append(f"{base}: {day} cleaned.csv differs from golden")
            posts = {r["id"]: r["subreddit"] for r in _csv_rows(os.path.join(data, day, "roh.csv"))}
            res = _spark_csv(os.path.join(out, "ergebnis.csv"))
            ids = [r["id"] for r in res]
            if sorted(ids) != sorted(posts):
                fails.append(f"{base}: {day} ergebnis ids differ from the posts")
            bad = [r["id"] for r in res if r["id"] in posts and (
                r["subreddit"] != posts[r["id"]] or r["prediction_label"] !=
                ("datascience" if float(r["prediction"]) == 1.0 else "gameofthrones"))]
            if bad:
                fails.append(f"{base}: {day} {len(bad)} rows with inconsistent labels")
    return fails


def _ids(path, col="doc_id"):
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def curate(data, round_dirs):
    """Each batch's drop ledger and packed ids partition its raw ids, and no
    planted exact duplicate survives into any packed batch."""
    fails = []
    with open(os.path.join(data, "planted_exact.txt")) as f:
        planted = {int(x) for x in f.read().split()}
    for base in round_dirs:
        packed_all = set()
        batches = sorted(glob.glob(os.path.join(base, "batch_*")))
        if not batches:
            fails.append(f"{base}: no batches")
        for b in batches:
            raw, dropped, packed = (_ids(os.path.join(b, s)) for s in ("raw", "drop_ledger", "packed"))
            packed_all.update(packed)
            if (len(dropped) + len(packed) != len(raw)
                    or sorted(dropped + packed) != sorted(raw)):
                fails.append(f"{b}: drop ledger + packed ids do not partition raw ids")
        kept = planted & packed_all
        if kept:
            fails.append(f"{base}: {len(kept)} planted exact duplicates kept, e.g. {min(kept)}")
    return fails


def queries(data, round_dirs, oracle):
    """Each oracled query's written result matches its DuckDB twin: columns
    sorted by name, rows sorted, values equal (scripts/check_oracle.py's
    comparison)."""
    fails = []
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    for run_dir in round_dirs:
        fails += _oracle(con, run_dir, oracle)
    return fails


def _oracle(con, run_dir, oracle):
    fails = []
    for name, sql in sorted(oracle.items()):
        spark_path = os.path.join(run_dir, name)
        if not os.path.isdir(spark_path):
            fails.append(f"{name}: spark output missing")
            continue
        try:
            duck = con.sql(sql).df()
        except Exception as e:
            fails.append(f"{name}: duckdb error: {e}")
            continue
        spark = con.execute(f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").df()
        duck = duck.reindex(sorted(duck.columns), axis=1)
        spark = spark.reindex(sorted(spark.columns), axis=1)
        if list(duck.columns) != list(spark.columns):
            fails.append(f"{name}: columns duck={list(duck.columns)} spark={list(spark.columns)}")
            continue
        if len(duck) != len(spark):
            fails.append(f"{name}: rows duck={len(duck)} spark={len(spark)}")
            continue
        dv = duck.sort_values(by=list(duck.columns)).reset_index(drop=True)
        sv = spark.sort_values(by=list(spark.columns)).reset_index(drop=True)
        for c in duck.columns:
            a, b = dv[c], sv[c]
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                fails.append(f"{name}: col {c}: duck={a.iloc[i]!r} spark={b.iloc[i]!r}")
                break
    return fails
