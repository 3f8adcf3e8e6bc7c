"""Correctness checks made once per run, outside the timed passes.

- Gated entries (including the s-entries): each dumped result equals the
  entry's `SparkEntry.oracleSql` run in DuckDB over the same inputs, in
  the typed canonical form of tools/check_oracle.py (columns sorted by
  name, rows sorted, every cell tagged with its type).
- x1_minhash_fast has no oracle (its xxhash64 base hash has no DuckDB
  twin). Its pair set must agree with d2's oracle pair set on at least
  80% of their union, the equivalence DedupSuiteSpec states for the two.
- x2_knn_bucketed has no oracle either. Every edge is checked against
  numpy: no self edges, at most k=4 edges per source with ranks 1..n,
  each `sim` equal to the exact cosine, and `mutual` true exactly when
  the reverse edge is present.
- hn_etl: final staging must equal newest-per-id over every batch file
  (a tie on extracted_at never updates), and the three marts must equal
  a pandas computation of the reference SQL over that staging (averages
  as the exact integer sum divided by the count in double precision);
  neither uses engine code.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# the correctness gate's canonical form, from the repository's tools/
sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check_oracle import TABLES, canon  # noqa: E402


def _read(path):
    t = pq.read_table(path)
    return t.column_names, [tuple(r.values()) for r in t.to_pylist()]


def entries(data_dir, dumps, names, oracles):
    """Compare each entry's dump; returns {attempted, failed, log}."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    log, failed = [], 0
    oracle_rows = {}

    def oracle(name):
        if name not in oracle_rows:
            res = con.sql(oracles[name])
            oracle_rows[name] = (res.columns, res.fetchall())
        return oracle_rows[name]

    for name in names:
        try:
            cols, rows = _read(f"{dumps}/{name}")
            if name == "x1_minhash_fast":
                ok, why = _x1(cols, rows, oracle("d2_minhash_pairs"))
            elif name == "x2_knn_bucketed":
                ok, why = _x2(cols, rows, f"{data_dir}/embeddings.parquet")
            else:
                ec, er = oracle(name)
                ok = canon(rows, cols) == canon(er, ec)
                why = f"{len(rows)} rows vs oracle {len(er)}"
        except Exception as e:  # a missing dump or failing oracle is a failure
            ok, why = False, f"{type(e).__name__}: {e}"
        if not ok:
            failed += 1
            log.append(f"check {name}: MISMATCH ({why})")
    return {"attempted": len(names), "failed": failed, "log": log}


def _x1(cols, rows, d2):
    got = {(r[cols.index("id_a")], r[cols.index("id_b")]) for r in rows}
    ec, er = d2
    want = {(r[ec.index("id_a")], r[ec.index("id_b")]) for r in er}
    union = got | want
    agree = len(got & want) / len(union) if union else 1.0
    return agree >= 0.8, f"pair-set agreement {agree:.3f} with d2's oracle"


def _x2(cols, rows, emb_path, k=4):
    df = pd.DataFrame(rows, columns=cols)
    emb = pq.read_table(emb_path).to_pandas()
    vec = {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(emb.vec_id, emb.embedding)}
    if (df.src_id == df.dst_id).any():
        return False, "self edge"
    per = df.groupby("src_id").rnk.agg(["count", "min", "max"])
    if (per["count"] > k).any() or (per["min"] != 1).any() or (per["max"] != per["count"]).any():
        return False, "ranks are not 1..n with n <= k"
    exact = np.array([vec[a] @ vec[b] / np.sqrt((vec[a] @ vec[a]) * (vec[b] @ vec[b]))
                      for a, b in zip(df.src_id, df.dst_id)])
    if len(exact) and np.max(np.abs(exact - df.sim.astype(float))) > 1e-5:
        return False, "sim differs from the exact cosine"
    edges = set(zip(df.src_id, df.dst_id))
    mutual = np.array([(b, a) in edges for a, b in zip(df.src_id, df.dst_id)], dtype=bool)
    if (mutual != df.mutual.to_numpy(dtype=bool)).any():
        return False, "mutual flag disagrees with the reverse edge"
    return True, ""


def raw_items(files):
    n = 0
    for f in files:
        n += sum(1 for it in json.load(open(f)) if it is not None)
    return n


def _domain(url):
    """The reference mart SQL's domain bucket: scheme prefixes are
    stripped case-sensitively, then the host segment is lowercased."""
    if url is None or url == "":
        return "(no_domain)"
    return url.replace("https://", "").replace("http://", "").split("/")[0].lower()


def expected_staging(schedule):
    """Newest-per-id over the batch files in schedule order: inside a
    batch the last occurrence wins; across batches a row replaces the
    stored one only when its extracted_at is strictly newer."""
    staging = {}
    for f in schedule:
        stamp = pd.Timestamp(f.rsplit("hn_items_", 1)[1][:15].replace("_", ""), tz="UTC")
        batch = {}
        for it in json.load(open(f)):
            if it is not None and it.get("id") is not None:
                batch[it["id"]] = it
        for i, it in batch.items():
            old = staging.get(i)
            if old is None or stamp > old[1]:
                staging[i] = (it, stamp)
    return staging


def hn_etl(schedule, res):
    log, failed, attempted = [], 0, 0
    newest = res["pipeline"]["newest_version"]
    got = pq.read_table(newest).to_pandas()
    want = expected_staging(schedule)
    attempted += 1
    got_ids = dict(zip(got.id, zip(got.title, got.score, got.extracted_at)))
    mismatch = len(got_ids) != len(want) or any(
        i not in got_ids or got_ids[i][0] != it.get("title") or
        got_ids[i][1] != (it.get("score") or 0) or
        pd.Timestamp(got_ids[i][2]).tz_localize("UTC") != ts
        for i, (it, ts) in want.items())
    if mismatch:
        failed += 1
        log.append(f"check staging: MISMATCH ({len(got_ids)} rows vs expected {len(want)})")
    rows = [(it, ts) for it, ts in want.values()
            if it.get("type") == "story" and it.get("time") is not None]
    base = pd.DataFrame({
        "metric_date": [pd.Timestamp(it["time"], unit="s").date() for it, _ in rows],
        "domain": [_domain(it.get("url")) for it, _ in rows],
        "author": [it.get("by") or "(unknown)" for it, _ in rows],
        "score": [it.get("score") or 0 for it, _ in rows],
        "comments": [it.get("descendants") or 0 for it, _ in rows],
        "extracted_at": [ts for _, ts in rows]})
    marts_dir = newest.rsplit("/staging/", 1)[0] + "/marts"
    for name, keys in (("daily_story_metrics", ["metric_date"]),
                       ("top_domains_daily", ["metric_date", "domain"]),
                       ("user_activity_daily", ["metric_date", "author"])):
        attempted += 1
        g = base.groupby(keys)
        exp = pd.DataFrame({"stories_count": g.size(),
                            "avg_score": g.score.sum() / g.size(),
                            "last": g.extracted_at.max()})
        if name == "daily_story_metrics":
            exp["total_score"] = g.score.sum()
            exp["total_comments"] = g.comments.sum()
            exp["avg_comments"] = g.comments.sum() / g.size()
        got_m = pq.read_table(f"{marts_dir}/{name}").to_pandas()
        got_m = got_m.set_index(keys).sort_index()
        exp = exp.sort_index()
        ok = (len(got_m) == len(exp) and
              (got_m.stories_count.to_numpy() == exp.stories_count.to_numpy()).all() and
              (got_m.avg_score.to_numpy() == exp.avg_score.to_numpy()).all() and
              (pd.to_datetime(got_m.last_batch_extracted_at, utc=True).to_numpy() ==
               pd.to_datetime(exp["last"], utc=True).to_numpy()).all())
        if ok and name == "daily_story_metrics":
            ok = ((got_m.total_score.to_numpy() == exp.total_score.to_numpy()).all() and
                  (got_m.total_comments.to_numpy() == exp.total_comments.to_numpy()).all() and
                  (got_m.avg_comments.to_numpy() == exp.avg_comments.to_numpy()).all())
        if not ok:
            failed += 1
            log.append(f"check {name}: MISMATCH ({len(got_m)} rows vs expected {len(exp)})")
    return {"attempted": attempted, "failed": failed, "log": log}
