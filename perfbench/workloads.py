"""The benchmark's three closed-loop workloads.

Each workload generates every input from its seed with numpy/pyarrow
into parquet files before the timed phase (``generate``), creates and
loads its tables (``load``), then runs a fixed list of ops. ``run_op``
is the timed call; ``check_op`` runs after it, untimed, and compares
the op's output with a pandas model of the table that replays the same
op sequence (the oracle). Exactly one op class is the workload's main
op; the others ride along and count only towards ``ops_per_s``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE = "items"
ITEM_COLUMNS = {"id": "bigint", "sku": "varchar(16)", "qty": "int",
                "price": "float"}


def sku_of(ids: np.ndarray) -> np.ndarray:
    """Bijective id -> sku: an odd multiplier mod 2**40, so skus are
    unique and scattered across the id-clustered files (only bloom
    sidecars can prune a sku lookup)."""
    mixed = (ids.astype(np.int64) * 0x9E3779B1) % (1 << 40)
    return np.array([f"SKU-{m:010x}" for m in mixed.tolist()], dtype=object)


def item_rows(rng, ids: np.ndarray) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=np.int64)
    return pd.DataFrame({
        "id": ids,
        "sku": sku_of(ids),
        "qty": rng.integers(0, 1000, len(ids)).astype(np.int32),
        "price": np.round(rng.random(len(ids)) * 100, 2),
    })


ITEM_SCHEMA = pa.schema([("id", pa.int64()), ("sku", pa.string()),
                         ("qty", pa.int32()), ("price", pa.float64())])


def write_parquet(df: pd.DataFrame, path: str, schema=None) -> int:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path
    )
    return os.path.getsize(path)


def frame_digest(df: pd.DataFrame, key: str, schema: pa.Schema) -> str:
    """Order-independent digest of a frame's rows: typed by ``schema``,
    sorted by ``key``, then hashed row by row."""
    df = df[schema.names].sort_values(key, kind="stable")
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    h = pd.util.hash_pandas_object(table.to_pandas(), index=False)
    return f"{len(df)}:{hashlib.sha256(h.to_numpy().tobytes()).hexdigest()}"


class ItemModel:
    """pandas replay of the keyed item table: the merge/lookup oracle."""

    def __init__(self, rows: pd.DataFrame):
        self.df = rows.set_index("id", drop=False).sort_index()

    def upsert(self, rows: pd.DataFrame) -> None:
        rows = rows.set_index("id", drop=False)
        keep = self.df[~self.df.index.isin(rows.index)]
        self.df = pd.concat([keep, rows]).sort_index()

    def update_qty(self, rows: pd.DataFrame) -> None:
        self.df.loc[rows["id"].to_numpy(), "qty"] = rows["qty"].to_numpy()

    def delete_range(self, lo: int, hi: int) -> None:
        idx = self.df.index
        self.df = self.df[~((idx >= lo) & (idx < hi))]

    def frame(self) -> pd.DataFrame:
        return self.df.reset_index(drop=True)[list(ITEM_COLUMNS)]


def _same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    got = got[cols].reset_index(drop=True)
    want = want[cols].reset_index(drop=True)
    if len(got) != len(want):
        return False
    for c in cols:
        if not np.array_equal(got[c].to_numpy(), want[c].to_numpy()):
            return False
    return True


class Workload:
    """Shared shape. Subclasses set ``name``, ``main``, ``op_budget_per_s``
    (the op budget per measured second: the op count is a fixed
    function of ``--seconds``, never of how fast the ops ran) and
    implement generate/load/run_op/check_op/final_check/live_frame."""

    name = ""
    main = ""
    op_budget_per_s = 1.0
    min_ops = 4

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.n_ops = max(self.min_ops,
                         int(round(self.op_budget_per_s * seconds)))

    def source_rows(self, op: dict) -> int:
        """Rows of the op's input batch (the rows a write applies)."""
        path = op.get("path") or op.get("docs")
        return pq.ParquetFile(path).metadata.num_rows if path else 0


# -- the keyed item table (merge_batches, lookup_mix) -------------------

class ItemWorkload(Workload):
    """A workload over the constrained item table: PK ``id``
    (stats-pruned), UNIQUE and bloom index on ``sku``, a CHECK on
    ``qty``, clustered writes, and ``load_files`` key-clustered files
    after the load of ``rows`` rows. The oracle is an ``ItemModel``."""

    table = TABLE
    rows = 20_000
    load_files = 8

    def write_load(self, rng, in_dir: str) -> None:
        self.load_path = os.path.join(in_dir, "load.parquet")
        write_parquet(item_rows(rng, np.arange(self.rows)), self.load_path,
                      ITEM_SCHEMA)

    def upsert_op(self, rng, path: str, ids: np.ndarray, main: bool) -> dict:
        nbytes = write_parquet(item_rows(rng, ids), path, ITEM_SCHEMA)
        return {"kind": "merge", "path": path, "bytes": nbytes, "main": main}

    def load(self, eng) -> None:
        eng.create.table(TABLE, dict(ITEM_COLUMNS), primary_key_column="id",
                         properties={"cluster_on_write": True})
        eng.modify.check_constraint(TABLE, "add", "ck_qty", "qty >= 0")
        eng.modify.unique_constraint(TABLE, "add", "uq_sku", "sku")
        eng.modify.bloom_index(TABLE, ["sku"])
        eng.write.insert(TABLE, eng.spark.read.parquet(self.load_path)
                         .repartition(self.load_files))
        self.eng = eng
        self.model = ItemModel(pd.read_parquet(self.load_path))

    def upsert(self, op: dict):
        return self.eng.write.merge(
            TABLE, self.eng.spark.read.parquet(op["path"]), upsert=True)

    def final_check(self) -> bool:
        got = self.eng.read.table(TABLE).toPandas()
        return (frame_digest(got, "id", ITEM_SCHEMA)
                == frame_digest(self.model.frame(), "id", ITEM_SCHEMA))

    def live_frame(self) -> tuple[pd.DataFrame, pa.Schema]:
        return self.model.frame(), ITEM_SCHEMA


class MergeBatches(ItemWorkload):
    """Upsert batches into the item table. Main op:
    ``write.merge(upsert=True)``.

    Batch keys are recency-skewed (the newest ``recent_window`` ids)
    plus new keys; old ranges are hit by the non-main update and
    delete_where ops. A uniform old key inside an upsert batch is left
    out on purpose: it widens the batch's [min, max] key range over
    most of the table, the merge rewrites every file in that range into
    one coalesced file, and from then on every merge rewrites the whole
    table -- so write and space amplification would hinge on where the
    seed put that one key."""

    name = "merge_batches"
    main = "merge"
    op_budget_per_s = 1.0
    batch = 300
    recent_window = 2_000
    new_share = 0.2

    def generate(self, in_dir: str) -> list[dict]:
        rng = np.random.default_rng([self.seed, 1])
        self.write_load(rng, in_dir)
        live = set(range(self.rows))
        next_id = self.rows
        ops = []
        for i in range(self.n_ops):
            path = os.path.join(in_dir, f"op{i:04d}.parquet")
            if i % 10 == 5:
                # non-main: UPDATE qty of the live keys of a 100-key old range
                lo = int(rng.integers(0, self.rows // 2))
                ids = np.array(sorted(k for k in range(lo, lo + 100)
                                      if k in live), dtype=np.int64)
                rows = pd.DataFrame({
                    "id": ids,
                    "qty": rng.integers(0, 1000, len(ids)).astype(np.int32),
                })
                nbytes = write_parquet(rows, path)
                ops.append({"kind": "update", "path": path, "bytes": nbytes,
                            "main": False})
            elif i % 10 == 9:
                # non-main: DELETE WHERE over an old 40-key range
                lo = int(rng.integers(0, self.rows // 2))
                live.difference_update(range(lo, lo + 40))
                ops.append({"kind": "delete_where", "lo": lo, "hi": lo + 40,
                            "main": False})
            else:
                n_new = int(self.batch * self.new_share)
                recent = rng.integers(next_id - self.recent_window, next_id,
                                      self.batch - n_new)
                ids = np.unique(np.concatenate(
                    [recent, np.arange(next_id, next_id + n_new)]))
                next_id += n_new
                live.update(ids.tolist())
                ops.append(self.upsert_op(rng, path, ids, main=True))
        return ops

    def run_op(self, op: dict):
        eng = self.eng
        if op["kind"] == "merge":
            return self.upsert(op)
        if op["kind"] == "update":
            return eng.write.update(TABLE, eng.spark.read.parquet(op["path"]),
                                    match_columns=["id"])
        return eng.write.delete_where(
            TABLE, f"id >= {op['lo']} and id < {op['hi']}"
        )

    def check_op(self, op: dict, result) -> bool:
        if op["kind"] == "merge":
            self.model.upsert(pd.read_parquet(op["path"]))
        elif op["kind"] == "update":
            self.model.update_qty(pd.read_parquet(op["path"]))
        else:
            before = len(self.model.df)
            self.model.delete_range(op["lo"], op["hi"])
            return int(result) == before - len(self.model.df)
        return True


# -- lookup_mix ---------------------------------------------------------

class LookupMix(ItemWorkload):
    """Validated filtered reads through ``toPandas``, with a small share
    of upserts adding files between them. Main op: ``read.table``."""

    name = "lookup_mix"
    main = "read"
    op_budget_per_s = 6.0
    write_every = 30
    batch = 100
    range_width = 200
    range_limit = 20

    def generate(self, in_dir: str) -> list[dict]:
        rng = np.random.default_rng([self.seed, 2])
        self.write_load(rng, in_dir)
        next_id = self.rows
        ops = []
        for i in range(self.n_ops):
            if i % self.write_every == self.write_every - 1:
                path = os.path.join(in_dir, f"op{i:04d}.parquet")
                ids = np.unique(np.concatenate([
                    rng.integers(next_id - 2000, next_id, self.batch - 20),
                    np.arange(next_id, next_id + 20),
                ]))
                next_id += 20
                ops.append(self.upsert_op(rng, path, ids, main=False))
                continue
            # a fixed cycle, so every seed has the same read-kind shares
            # and starts with the same kind; only the keys are seeded
            kind = ("pk", "sku", "range")[i % 3]
            key = int(rng.integers(0, next_id))
            ops.append({"kind": kind, "key": key, "main": True})
        return ops

    def run_op(self, op: dict):
        if op["kind"] == "merge":
            return self.upsert(op)
        return self.action(self.read_frame(op))

    def read_frame(self, op: dict):
        eng, k = self.eng, op["key"]
        if op["kind"] == "pk":
            return eng.read.table(TABLE, where=f"id = {k}")
        if op["kind"] == "sku":
            return eng.read.table(TABLE, where=f"sku = {sku_of(np.array([k]))[0]}")
        return eng.read.table(
            TABLE, column_names=["qty"],
            where=f"id >= {k} and id < {k + self.range_width}",
            order_column="id", order_direction="ASC", limit=self.range_limit,
        )

    def action(self, df):
        return df.toPandas()

    def check_op(self, op: dict, result) -> bool:
        if op["kind"] == "merge":
            self.model.upsert(pd.read_parquet(op["path"]))
            return True
        m, k = self.model.df, op["key"]
        if op["kind"] == "pk":
            want, cols = m[m.index == k], list(ITEM_COLUMNS)
        elif op["kind"] == "sku":
            want = m[m["sku"] == sku_of(np.array([k]))[0]]
            cols = list(ITEM_COLUMNS)
        else:
            idx = m.index
            want = m[(idx >= k) & (idx < k + self.range_width)]
            want, cols = want.head(self.range_limit), ["id", "qty"]
        if op["kind"] != "range":
            result = result.sort_values("id")
        return list(result.columns) == cols and _same_rows(result, want, cols)


# -- curate_batches -----------------------------------------------------

DOCS = "docs"
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def shingles(text: str, k: int = 8) -> set:
    return {text[i:i + k] for i in range(len(text) - k + 1)}


class CurateBatches(Workload):
    """Ingest steps of an LLM-data pipeline: near-dup filtering against
    the stored corpus, insert of the survivors, and exact top-k search
    of the step's query vectors over a clustered embedding corpus.
    Main op: one whole step."""

    name = "curate_batches"
    main = "curate_step"
    table = DOCS
    op_budget_per_s = 0.5
    corpus_docs = 500
    batch = 40
    planted = 4
    words_per_doc = 30
    vocab = 300
    emb_rows = 8000
    emb_files = 8
    dim = 32
    clusters = 16
    queries = 16
    k = 10
    threshold = 0.8

    def generate(self, in_dir: str) -> list[dict]:
        # one fixed vocabulary for every seed keeps the text's
        # compressibility, and so the store's bytes, seed-independent
        vrng = np.random.default_rng(0)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        vocab = np.array(["".join(vrng.choice(letters, int(n)))
                          for n in vrng.integers(3, 9, self.vocab)],
                         dtype=object)
        rng = np.random.default_rng([self.seed, 3])

        def doc():
            return " ".join(rng.choice(vocab, self.words_per_doc))

        corpus = pd.DataFrame({
            "doc_id": np.arange(self.corpus_docs, dtype=np.int64),
            "text": [doc() for _ in range(self.corpus_docs)],
        })
        self.corpus_path = os.path.join(in_dir, "corpus.parquet")
        write_parquet(corpus, self.corpus_path, DOC_SCHEMA)

        centers = rng.normal(size=(self.clusters, self.dim))
        label = np.sort(rng.integers(0, self.clusters, self.emb_rows))
        emb = (centers[label]
               + 0.3 * rng.normal(size=(self.emb_rows, self.dim))).astype(
                   np.float32)
        self.emb_dir = os.path.join(in_dir, "embeddings")
        os.makedirs(self.emb_dir)
        per = self.emb_rows // self.emb_files
        for f in range(self.emb_files):
            lo, hi = f * per, (f + 1) * per
            pq.write_table(_vector_table(np.arange(lo, hi), emb[lo:hi]),
                           os.path.join(self.emb_dir, f"part{f}.parquet"))
        self.embeddings = emb

        texts = corpus["text"].tolist()
        next_id = self.corpus_docs
        ops = []
        for i in range(self.n_ops):
            batch = [doc() for _ in range(self.batch)]
            planted = rng.choice(self.batch, self.planted, replace=False)
            for j in planted:
                words = texts[int(rng.integers(0, len(texts)))].split()
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(vocab))
                batch[j] = " ".join(words)
            ids = np.arange(next_id, next_id + self.batch, dtype=np.int64)
            next_id += self.batch
            docs_path = os.path.join(in_dir, f"docs{i:04d}.parquet")
            nbytes = write_parquet(pd.DataFrame({"doc_id": ids, "text": batch}),
                                   docs_path, DOC_SCHEMA)
            qvec = (centers[rng.integers(0, self.clusters, self.queries)]
                    + 0.3 * rng.normal(size=(self.queries, self.dim))).astype(
                        np.float32)
            q_path = os.path.join(in_dir, f"queries{i:04d}.parquet")
            pq.write_table(
                _vector_table(np.arange(self.queries) + 10**9 + i * 1000,
                              qvec),
                q_path,
            )
            nbytes += os.path.getsize(q_path)
            ops.append({"kind": "curate_step", "docs": docs_path,
                        "queries": q_path, "bytes": nbytes, "main": True,
                        "planted": set(ids[planted].tolist())})
        return ops

    def load(self, eng) -> None:
        eng.create.table(DOCS, {"doc_id": "bigint", "text": "varchar(max)"},
                         primary_key_column="doc_id")
        eng.write.insert(DOCS, eng.spark.read.parquet(self.corpus_path))
        self.eng = eng
        self.docs = pd.read_parquet(self.corpus_path).set_index(
            "doc_id", drop=False)
        self.planted_found = 0
        self.planted_total = 0

    def run_op(self, op: dict):
        """One ingest step; returns (dup pairs, top-k rows)."""
        from mssql_dataframe_spark.operators import dedup, similarity

        eng, spark = self.eng, self.eng.spark
        batch = spark.read.parquet(op["docs"])
        pairs = self.dedup_action(dedup.minhash_dedup_incremental(
            batch, eng.read.table(DOCS), threshold=self.threshold))
        dups = sorted({int(r["new_id"]) for r in pairs})
        survivors = batch.filter(~batch["doc_id"].isin(dups)) if dups else batch
        eng.write.insert(DOCS, survivors)
        top = self.topk_action(similarity.exact_topk_scalable(
            spark.read.parquet(self.emb_dir), spark.read.parquet(op["queries"]),
            dim=self.dim, k=self.k))
        self.release()
        return pairs, top

    def dedup_action(self, df):
        return df.collect()

    def topk_action(self, df):
        return df.collect()

    def release(self) -> None:
        from mssql_dataframe_spark.operators import dedup, similarity

        dedup.release_pins()
        similarity.release_caches()

    def check_op(self, op: dict, result) -> bool:
        pairs, top = result
        batch = pd.read_parquet(op["docs"]).set_index("doc_id", drop=False)
        ok = True
        dup_ids = set()
        for r in pairs:
            new_id, old_id = int(r["new_id"]), int(r["corpus_id"])
            if new_id not in batch.index or old_id not in self.docs.index:
                ok = False
                continue
            a = shingles(batch.at[new_id, "text"])
            b = shingles(self.docs.at[old_id, "text"])
            j = len(a & b) / len(a | b)
            if j < self.threshold or abs(round(j, 6) - r["jaccard"]) > 1e-9:
                ok = False
            dup_ids.add(new_id)
        self.planted_total += len(op["planted"])
        self.planted_found += len(op["planted"] & dup_ids)
        survivors = batch[~batch.index.isin(dup_ids)]
        self.docs = pd.concat([self.docs, survivors])
        return ok and self._topk_matches(op, top)

    def _topk_matches(self, op: dict, top) -> bool:
        """Exact top-k oracle under the module's quantized cosine:
        int64 dot of floor(v*64+0.5) vectors over the product of the
        two exact-integer norms, rounded half away from zero to 8
        decimals; ties break on neighbor id."""
        from mssql_dataframe_spark.operators.similarity import (
            QUANT, _round8_away)

        qt = pq.read_table(op["queries"]).to_pandas()
        q_ids = qt["vec_id"].to_numpy()
        Q = np.floor(np.vstack(qt["embedding"].to_numpy()).astype(np.float64)
                     * QUANT + 0.5).astype(np.int64)
        C = np.floor(self.embeddings.astype(np.float64) * QUANT + 0.5).astype(
            np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            S = (C @ Q.T).astype(np.float64) / np.outer(cn, qn)
        S = np.nan_to_num(S, nan=-np.inf)
        ids = np.arange(len(C), dtype=np.int64)
        want = set()
        for j, qid in enumerate(q_ids.tolist()):
            order = np.lexsort((ids, -S[:, j]))[: self.k]
            for rank, n in enumerate(order.tolist(), 1):
                want.add((qid, n, float(_round8_away(S[n, j])), rank))
        got = {(int(r["query_id"]), int(r["neighbor_id"]),
                float(r["cosine_sim"]), int(r["rank"])) for r in top}
        return got == want

    def final_check(self) -> bool:
        got = self.eng.read.table(DOCS).toPandas()
        return (frame_digest(got, "doc_id", DOC_SCHEMA)
                == frame_digest(self.docs.reset_index(drop=True), "doc_id",
                                DOC_SCHEMA))

    def live_frame(self):
        return self.docs.reset_index(drop=True), DOC_SCHEMA


def _vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1],
                                 dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
    })


WORKLOADS = {w.name: w for w in (MergeBatches, LookupMix, CurateBatches)}
