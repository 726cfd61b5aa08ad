"""Seeded workload inputs, derived from the catalog's test tables.

`testdata/sf0.01/` holds the ten tables of the catalog's deterministic
sf 0.01 test data (seed 42), copied unchanged. `catalog` reads them as
they are. The `acon_merge` target is that `lineitem`, and the `dedup_ingest`
corpus is that `documents` table derived xk. Only the change batches and
micro-batches are generated here, as a pure function of (seed, sizes), so a
run can be repeated and two commits measured on identical inputs. The engine
only ever sees parquet files; the checks compare against expectations
derived from the same rows (catalog: DuckDB over the tables; acon_merge: an
independent replay of the change batches; dedup_ingest: the labels recorded
next to each batch).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "sf0.01")

# Stream ids keep each generated artefact independent of the others, so
# resizing one input never shifts the random draws of another.
_STREAMS = {"catalog": 1, "merge": 2, "dedup": 3}


def rng(seed, stream):
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def read_table(name):
    return pq.read_table(os.path.join(TESTDATA, f"{name}.parquet"))


def table_rows():
    """Rows of each test table, from the parquet footers."""
    return {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(TESTDATA, f)).metadata.num_rows
            for f in sorted(os.listdir(TESTDATA)) if f.endswith(".parquet")}


# --- acon_merge -------------------------------------------------------------

MERGE_KEY = ["l_orderkey", "l_linenumber"]
# The columns a change rewrites; a key keeps its part, supplier and ship date,
# so an update never moves a row between ship-month partitions.
_MEASURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_returnflag", "l_linestatus"]


def _months(lineitem):
    """Ship month of each row, as a month count from the earliest one."""
    m = lineitem.column("l_shipdate").to_numpy().astype("datetime64[M]").astype(np.int64)
    return m - m.min()


def _change_rows(lineitem, keys, base_rows, measure_rows):
    """Lineitem rows with the given keys, the part, supplier and ship date of
    `base_rows` and the measures of `measure_rows` (row numbers of
    `lineitem`), plus their `ship_month` partition value."""
    base = lineitem.take(pa.array(base_rows, pa.int64()))
    meas = lineitem.take(pa.array(measure_rows, pa.int64()))
    cols = {}
    for name in lineitem.column_names:
        cols[name] = meas.column(name) if name in _MEASURES else base.column(name)
    cols["l_orderkey"] = pa.array(keys[:, 0], pa.int64())
    cols["l_linenumber"] = pa.array(keys[:, 1], pa.int32())
    cols["ship_month"] = pc.strftime(base.column("l_shipdate"), format="%Y-%m")
    return cols


def _merge_table(cols, ext_ts, mode):
    cols = dict(cols)
    cols["extraction_ts"] = pa.array(np.asarray(ext_ts, dtype=np.int64))
    cols["recordmode"] = pa.array(list(mode), pa.string())
    return pa.table(cols)


def write_merge(seed, out_dir, batches, batch_share=0.01, lineitem=None):
    """The initial target (merge-created in set-up) and `batches` change
    batches of `batch_share` x target rows each.

    The target is `lineitem` with one row per (l_orderkey, l_linenumber),
    the first in file order. A batch holds 80% updates of live keys (new
    measures taken from another lineitem row), 10% inserts of new keys (a
    lineitem row under a fresh order key), 5% record-mode deletes and 5%
    older second versions of keys updated in the same batch. Changes favour
    recent ship months (a month's weight halves with every month of age),
    as delta loads of a date-partitioned table do. Each batch is one parquet
    file under `batches/NNNN`."""
    g = rng(seed, "merge")
    lineitem = read_table("lineitem") if lineitem is None else lineitem
    os.makedirs(out_dir, exist_ok=True)
    n_rows = lineitem.num_rows
    code = (lineitem.column("l_orderkey").to_numpy() * 8
            + lineitem.column("l_linenumber").to_numpy())
    first = np.sort(np.unique(code, return_index=True)[1])
    keys = np.stack([lineitem.column("l_orderkey").to_numpy()[first],
                     lineitem.column("l_linenumber").to_numpy()[first]], axis=1)
    base = first.copy()  # key -> the lineitem row of its part, supplier and date
    row_month = _months(lineitem)
    row_w = 0.5 ** (row_month.max() - row_month)
    row_p = row_w / row_w.sum()
    ts = 1
    init = _merge_table(_change_rows(lineitem, keys, base, base), np.full(len(keys), ts),
                        ["N"] * len(keys))
    initial = os.path.join(out_dir, "initial.parquet")
    pq.write_table(init, initial)
    batch_rows = max(20, round(len(keys) * batch_share))
    live = np.ones(len(keys), dtype=bool)
    next_order = int(keys[:, 0].max()) + 1
    files = []
    for b in range(batches):
        ts += 1
        n_upd, n_ins, n_del = int(batch_rows * 0.80), int(batch_rows * 0.10), int(batch_rows * 0.05)
        n_ver = batch_rows - n_upd - n_ins - n_del
        cand = np.flatnonzero(live)
        p = row_w[base[cand]]
        picked = g.choice(cand, n_upd + n_del, replace=False, p=p / p.sum())
        upd, dele = picked[:n_upd], picked[n_upd:]
        templates = g.choice(n_rows, n_ins, p=row_p)
        new_keys = np.stack([next_order + np.arange(n_ins), np.ones(n_ins, dtype=np.int64)], axis=1)
        next_order += n_ins
        keys = np.concatenate([keys, new_keys])
        base = np.concatenate([base, templates])
        live = np.concatenate([live, np.ones(n_ins, dtype=bool)])
        ins = np.arange(len(keys) - n_ins, len(keys))
        live[dele] = False
        # an older version of some updated keys: condensation keeps the newer
        ver = g.choice(upd, n_ver, replace=False)
        idx = np.concatenate([upd, ins, dele, ver])
        measures = np.concatenate([g.integers(0, n_rows, n_upd), templates,
                                   g.integers(0, n_rows, n_del + n_ver)])
        mode = [""] * n_upd + ["N"] * n_ins + ["D"] * n_del + [""] * n_ver
        ext = np.concatenate([np.full(n_upd + n_ins + n_del, ts * 10), np.full(n_ver, ts * 10 - 1)])
        t = _merge_table(_change_rows(lineitem, keys[idx], base[idx], measures), ext, mode)
        t = t.take(pa.array(g.permutation(t.num_rows)))
        d = os.path.join(out_dir, "batches", f"{b:04d}")
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))
        files.append(d)
    return {"initial": initial, "batches": files, "lineitem_rows": n_rows,
            "target_rows": init.num_rows, "batch_rows": batch_rows,
            "initial_bytes": os.path.getsize(initial),
            "batch_bytes": [dir_bytes(d) for d in files]}


def expected_merge(initial, batch_dirs):
    """Replay the change batches over the initial rows with the ACON's
    semantics, independently of the engine: per batch keep the newest
    version of each key (condensation), then delete keys whose newest
    version has record mode D, update the other matched keys and insert
    the unmatched non-deletes.  Returns {key: row dict}."""
    table = {}
    for r in pq.read_table(initial).to_pylist():
        table[(r["l_orderkey"], r["l_linenumber"])] = r
    for d in batch_dirs:
        newest = {}
        for r in pq.read_table(d).to_pylist():
            k = (r["l_orderkey"], r["l_linenumber"])
            if k not in newest or r["extraction_ts"] > newest[k]["extraction_ts"]:
                newest[k] = r
        for k, r in newest.items():
            if r["recordmode"] == "D":
                table.pop(k, None)
            else:
                table[k] = r
    return table


# --- dedup_ingest -----------------------------------------------------------

def derive_corpus(base, copies):
    """ScaleCurve's derivation: copy i offsets every id by i*(max_id+1) and
    suffixes every token with 'c<i>', so copies never near-duplicate each
    other while each copy keeps the base's duplicate structure."""
    ids = base.column("doc_id").to_numpy()
    span = int(ids.max()) + 1
    texts = base.column("text").to_pylist()
    out_ids, out_text = [], []
    for i in range(copies):
        out_ids.append(ids + i * span)
        out_text += texts if i == 0 else [" ".join(w + f"c{i}" for w in t.split()) for t in texts]
    return pa.table({"doc_id": np.concatenate(out_ids), "text": out_text})


def _distinct_texts(texts):
    """One text per near-duplicate group of the documents table, whose
    near-duplicates are an earlier text with ' dup' tokens appended."""
    seen, out = set(), []
    for t in texts:
        core = t
        while core.endswith(" dup"):
            core = core[:-len(" dup")]
        if core not in seen:
            seen.add(core)
            out.append(core)
    return out


def write_dedup(seed, out_dir, copies, batches, batch_docs,
                copy_share=0.3, inner_share=0.2, documents=None):
    """The corpus to index in set-up (`documents` derived x`copies`) and
    `batches` micro-batches.  Each batch holds, under fresh ids: exact
    copies of indexed documents (corpus docs or fresh docs of earlier
    batches), pairs of identical fresh documents (within-batch duplicates)
    and fresh documents. A fresh document is a distinct document of the
    table with every token suffixed 'b<batch>', so it shares no shingle with
    anything indexed. Labels: 'copy' must be dropped, 'inner_dup' is
    dropped, 'inner_keep' and 'fresh' survive."""
    g = rng(seed, "dedup")
    documents = read_table("documents") if documents is None else documents
    os.makedirs(out_dir, exist_ok=True)
    base = documents.select(["doc_id", "text"])
    corpus = derive_corpus(base, copies)
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    pq.write_table(corpus, corpus_path)
    indexed = corpus.column("text").to_pylist()
    distinct = _distinct_texts(base.column("text").to_pylist())
    next_id = int(corpus.column("doc_id").to_numpy().max()) + 1
    n_copy = int(batch_docs * copy_share)
    n_pair = int(batch_docs * inner_share) // 2
    n_fresh = batch_docs - n_copy - 2 * n_pair
    if n_fresh + n_pair > len(distinct):
        raise ValueError(f"a batch needs {n_fresh + n_pair} distinct documents, "
                         f"the table has {len(distinct)}")
    files, labels = [], []
    for b in range(batches):
        texts, lab = [], []
        for j in g.integers(0, len(indexed), n_copy):
            texts.append(indexed[j]); lab.append("copy")
        picked = g.choice(len(distinct), n_fresh + n_pair, replace=False)
        fresh = [" ".join(w + f"b{b}" for w in distinct[j].split()) for j in picked]
        for t in fresh[:n_pair]:
            texts += [t, t]; lab += ["inner_keep", "inner_dup"]
        for t in fresh[n_pair:]:
            texts.append(t); lab.append("fresh")
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        next_id += len(texts)
        order = g.permutation(len(texts))
        texts = [texts[i] for i in order]
        lab = [lab[i] for i in order]
        # ids ascend in file order, so the twin listed first is the one the
        # within-batch pass keeps (keep-lowest-id)
        seen = set()
        for i, t in enumerate(texts):
            if lab[i] in ("inner_keep", "inner_dup"):
                lab[i] = "inner_dup" if t in seen else "inner_keep"
                seen.add(t)
        indexed += fresh
        d = os.path.join(out_dir, "batches", f"{b:04d}")
        os.makedirs(d)
        pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                       os.path.join(d, "part-0.parquet"))
        files.append(d)
        labels.append(dict(zip(ids.tolist(), lab)))
    return {"corpus": corpus_path, "base_docs": base.num_rows, "corpus_docs": corpus.num_rows,
            "copies": copies, "corpus_bytes": os.path.getsize(corpus_path), "batches": files,
            "batch_docs": batch_docs, "batch_bytes": [dir_bytes(d) for d in files],
            "labels": labels}


def dir_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)
