"""Output checks. Each returns the set of timed op indices whose output was
wrong, plus a list of problems found outside the timed ops (set-up or
warm-up), which make the run incorrect without failing an op."""
import collections
import glob
import os

import duckdb
import pandas as pd
import pyarrow.dataset as ds

import gen


def canon(df):
    """Column-name-sorted, row-sorted frame, as `scripts/check_oracle.py` compares."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def frames_equal(spark_df, oracle_df):
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
        return True
    except AssertionError:
        return False


def catalog(record, data_dir, check_dir, order):
    """Each query's warm-up output against its DuckDB oracle SQL; queries
    without an oracle must have produced a readable output."""
    fin = record["finish"]
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    bad = {}
    for name in sorted(set(order)):
        if name in fin["check_errors"]:
            bad[name] = fin["check_errors"][name]
            continue
        try:
            files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            sql = fin["oracle_sql"].get(name)
            if sql is not None and not frames_equal(got, con.sql(sql).df()):
                bad[name] = "differs from its DuckDB oracle"
        except Exception as e:  # unreadable output or oracle error
            bad[name] = f"{type(e).__name__}: {e}"[:300]
    failed = {i for i, q in enumerate(order) if q in bad}
    return failed, [f"{q}: {why}" for q, why in sorted(bad.items())]


def acon_merge(target_dir, initial, warmup_batches, batches):
    """The final target against a replay of every change batch. A wrong key
    fails the timed op whose batch last touched it."""
    expected = gen.expected_merge(initial, warmup_batches + batches)
    got = ds.dataset(target_dir, format="parquet", partitioning="hive").to_table().to_pylist()
    actual = {}
    dup = set()
    for r in got:
        k = (r["l_orderkey"], r["l_linenumber"])
        if k in actual:
            dup.add(k)
        actual[k] = r
    cols = list(next(iter(expected.values())))
    wrong = dup | (expected.keys() ^ actual.keys())
    wrong |= {k for k in expected.keys() & actual.keys()
              if any(_norm(expected[k][c]) != _norm(actual[k][c]) for c in cols)}
    last_touch = {}
    for i, d in enumerate(batches):
        for r in ds.dataset(d, format="parquet").to_table(columns=gen.MERGE_KEY).to_pylist():
            last_touch[(r["l_orderkey"], r["l_linenumber"])] = i
    failed = {last_touch[k] for k in wrong if k in last_touch}
    problems = [f"{len(wrong)} wrong keys"] if wrong else []
    problems += [f"key {k} wrong before the timed ops" for k in wrong if k not in last_touch][:5]
    return failed, problems


def _norm(v):
    # partition values come back from the directory name as strings
    return str(v) if v is not None else None


def dedup_ingest(sink_dir, index_dir, corpus_docs, warmup_labels, labels, num_bands):
    """Survivors and index postings against the generator's labels: copies
    of indexed docs are dropped and never indexed; fresh docs and the kept
    twin of a within-batch pair survive; every doc that was not a copy is
    indexed once per band."""
    seen = collections.Counter(ds.dataset(sink_dir, format="parquet")
                               .to_table(columns=["doc_id"]).column("doc_id").to_pylist())
    postings = collections.Counter(ds.dataset(index_dir, format="parquet", partitioning="hive")
                                   .to_table(columns=["id"]).column("id").to_pylist())

    def batch_ok(lab):
        for doc, kind in lab.items():
            keep = kind in ("fresh", "inner_keep")
            if seen.get(doc, 0) != (1 if keep else 0):
                return False
            if postings.get(doc, 0) != (0 if kind == "copy" else num_bands):
                return False
        return True

    failed = {i for i, lab in enumerate(labels) if not batch_ok(lab)}
    problems = [f"batch {i} survivors or postings differ from its labels" for i in sorted(failed)]
    if not all(batch_ok(lab) for lab in warmup_labels):
        problems.append("a warm-up batch differs from its labels")
    corpus_postings = sum(n for d, n in postings.items() if d < corpus_docs)
    if corpus_postings != corpus_docs * num_bands:
        problems.append(f"corpus postings {corpus_postings} != {corpus_docs * num_bands}")
    return failed, problems
