"""The three benchmark workloads, driven through the package's public
functions.

Each workload lands its seeded inputs under the run's work directory,
then exposes one op at a time: :meth:`prepare` (untimed: generate and
land the inputs, open the DataFrames), :meth:`run` (timed: the call
into the package up to its committed or written result) and
:meth:`check` (untimed: compare the output with the generator's model;
returns a list of mismatches).
"""

from __future__ import annotations

import os
import statistics

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

# Workload sizes and warm-up counts. A gated workload is run 22 times
# when two commits are compared, within one hour; on 4 cores an
# hourly_batch run (set-up plus 12 timed seconds) takes 62-84 s, a
# corpus_dedup run 45-50 s and a stream_fold run about 40 s at these
# sizes.
HOURLY_WINDOW = 400   # cards in the search window
HOURLY_CHURN = 50     # listings taken down, and listed, per batch
HOURLY_REPRICE = 20   # listings re-priced per batch
CDC_KEYS = 50_000     # listings in the folded state
CDC_EVENTS = 500      # events per micro-batch
CDC_COMPACT_EVERY = 3
DEDUP_DOCS = 3000     # documents per shard
DEDUP_THRESHOLD = 0.8
# Warm-up ops before timing, the first one bootstrapping state where the
# workload has any; the first ops pay JIT compilation and Python worker
# start-up. Measured on 4 cores: hourly_batch 25 s, 11 s, then 8-10 s
# falling to 7-9 s; corpus_dedup 11-14 s, 4.3-5.1 s, 3.7-4.6 s, then
# 2.5-4.3 s falling over the next ops; stream_fold 10 s, 4.5 s, 3.0 s,
# 2.6 s, then 1.7-2.1 s. Run-to-run spread of op_p50_s did not shrink
# with a longer hourly_batch warm-up or a fourth corpus_dedup warm-up
# op, so the counts are as small as the time budget needs. A fixed count
# keeps set-up time comparable across runs.
WARMUP_OPS = {"hourly_batch": 2, "stream_fold": 4, "corpus_dedup": 3}
# LSH with 8 bands of 4 rows misses a pair at Jaccard 0.8 with
# probability 1.5%, at 0.9 with 0.02% and at 0.97 with 3e-8, so the
# dedup check asks for every planted pair from RECALL_ALL_AT up and for
# RECALL_FLOOR of the planted pairs between the threshold and there
# (about one miss expected among some 350; a banding change that drops
# pairs between 0.8 and 0.97 falls below the floor).
RECALL_ALL_AT = 0.97
RECALL_FLOOR = 0.95


def _land(path: str, names: list[str], rows: list[tuple], schema: pa.Schema | None = None) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    table = pa.table(
        {n: list(c) for n, c in zip(names, cols)},
        schema=schema,
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def file_stats(root: str, skip: tuple[str, ...] = ()) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``
    (hidden and ``_``-prefixed marker files left out), not descending
    into the top-level directories named in ``skip``."""
    out = {}
    for d, dirs, names in os.walk(root):
        if d == root:
            dirs[:] = [x for x in dirs if x not in skip]
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:  # removed while walking
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> dict[str, int]:
    """path -> size of the files in ``after`` that are new or changed
    since ``before``."""
    return {p: st[0] for p, st in after.items() if before.get(p) != st}


def read_committed_state(state_path: str) -> pa.Table:
    """The state table as a reader sees it, read without Spark: for each
    bucket, its newest copy among the committed versions."""
    from rental_data_pipeline_spark.streaming.incremental import (
        BUCKET_COL,
        _state_versions,
    )

    newest: dict[str, str] = {}
    for v in reversed(_state_versions(state_path)):
        for name in os.listdir(v):
            if name.startswith(f"{BUCKET_COL}=") and name not in newest:
                newest[name] = os.path.join(v, name)
    tables = [pq.read_table(p) for _, p in sorted(newest.items())]
    return pa.concat_tables(tables, promote_options="default")


class Op:
    """One op's inputs (landed and opened) and its record count."""

    def __init__(self, index: int, records: int, **inputs):
        self.index = index
        self.records = records
        self.inputs = inputs
        self.result = None


class HourlyBatch:
    """One ``run_pipeline`` per hourly search batch into committed state."""

    name = "hourly_batch"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work = spark, work
        self.plan = gen.HourlyPlan(seed, window=HOURLY_WINDOW, churn=HOURLY_CHURN,
                                   reprice=HOURLY_REPRICE,
                                   universe=HOURLY_WINDOW + HOURLY_WINDOW // 4)
        self.state_path = os.path.join(work, "state")
        self.output_dir = os.path.join(work, "out")
        _land(os.path.join(work, "geo", "geocode"), ["address", "lat", "lon"], gen.geocode_rows())
        _land(os.path.join(work, "geo", "route"), ["lat", "lon", "meters"], gen.route_rows())
        self.geocode = spark.read.parquet(os.path.join(work, "geo", "geocode"))
        self.route = spark.read.parquet(os.path.join(work, "geo", "route"))

    def state_bytes(self) -> int:
        return dir_bytes(self.state_path)

    def bootstrap(self) -> Op:
        # the first batch fetches the page of every listing in the
        # universe; light pages keep that set-up cost down (the parse is
        # linear in page size and the state is the same either way)
        return self.prepare(0, filler_blocks=4)

    def prepare(self, i: int, filler_blocks: int | None = None) -> Op:
        from pyspark.sql import functions as F

        b = self.plan.next_batch(filler_blocks)
        land = os.path.join(self.work, "landing", f"batch_{i:05d}")
        _land(f"{land}/search", ["page_id", "html"], b.search_pages)
        _land(f"{land}/listing", ["offer_id", "html", "url"], b.listing_pages)
        listing = self.spark.read.parquet(f"{land}/listing")

        def listing_pages_for(scope):
            # the landing holds the pages this batch asks for; the ids
            # are broadcast so the ~75 KB pages never cross an exchange
            return listing.join(F.broadcast(scope.select("offer_id")), "offer_id").select(
                "html", "url"
            )

        return Op(i, b.records, batch=b, land=land,
                  search=self.spark.read.parquet(f"{land}/search"),
                  listing_pages_for=listing_pages_for)

    def run(self, op: Op) -> None:
        from rental_data_pipeline_spark.jobs import PipelineConfig, run_pipeline

        res = run_pipeline(
            self.spark, op.inputs["search"], op.inputs["listing_pages_for"],
            self.geocode, self.route, PipelineConfig(now=op.inputs["batch"].now),
            state_path=self.state_path, output_dir=self.output_dir,
        )
        op.result = res["metrics"]

    def check(self, op: Op) -> list[str]:
        import shutil

        shutil.rmtree(op.inputs["land"], ignore_errors=True)
        exp = op.inputs["batch"].expected
        got = read_committed_state(self.state_path).select(
            ["offer_id", "price_value", "is_unpublished", "status", "distance"]
        ).to_pylist()
        errs = []
        if len(got) != len(exp):
            errs.append(f"state rows {len(got)} != expected {len(exp)}")
        if op.result.get("n_state") != len(exp):
            errs.append(f"metrics n_state {op.result.get('n_state')} != {len(exp)}")
        for r in got:
            want = exp.get(r["offer_id"])
            have = (r["price_value"], r["is_unpublished"], r["status"], r["distance"])
            if want != have:
                errs.append(f"offer {r['offer_id']}: {have} != expected {want}")
                if len(errs) > 5:
                    break
        return errs


def _merge_listings_fold(target, batch):
    """The keyed merge ``incremental_merge_stream`` folds with."""
    from rental_data_pipeline_spark.operators.merge import merge_listings

    if target is None:
        target = batch.limit(0).drop("updated_date")
    return merge_listings(
        target, batch, key="offer_id", order_cols=["updated_date", "event_id"]
    )


_CDC_SCHEMA = pa.schema([
    ("offer_id", pa.int64()),
    ("updated_date", pa.timestamp("us", tz="UTC")),
    ("price_value", pa.float64()),
    ("is_unpublished", pa.bool_()),
    ("event_id", pa.int64()),
])


class StreamFold:
    """One ``bucketed_keyed_fold`` of a CDC micro-batch into a large
    state, with periodic compaction."""

    name = "stream_fold"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work = spark, work
        self.plan = gen.CdcPlan(seed, keys=CDC_KEYS, events=CDC_EVENTS)
        self.state_path = os.path.join(work, "state")

    def state_bytes(self) -> int:
        return dir_bytes(self.state_path)

    def _open(self, i: int, rows: list[tuple]) -> Op:
        from rental_data_pipeline_spark.streaming.incremental import SNAPSHOT_SCHEMA

        land = os.path.join(self.work, "landing", f"batch_{i:05d}")
        _land(land, [f.name for f in _CDC_SCHEMA], rows, _CDC_SCHEMA)
        df = self.spark.read.schema(SNAPSHOT_SCHEMA).parquet(land)
        return Op(i, len(rows), rows=rows, land=land, df=df)

    def bootstrap(self) -> Op:
        return self._open(0, self.plan.initial_rows())

    def prepare(self, i: int) -> Op:
        return self._open(i, self.plan.next_batch())

    def run(self, op: Op) -> None:
        from rental_data_pipeline_spark.streaming.incremental import bucketed_keyed_fold

        bucketed_keyed_fold(
            op.inputs["df"], op.index, self.state_path, key="offer_id",
            merge_fn=_merge_listings_fold, compact_every=CDC_COMPACT_EVERY,
        )

    def check(self, op: Op) -> list[str]:
        import shutil

        shutil.rmtree(op.inputs["land"], ignore_errors=True)
        keys = {r[0] for r in op.inputs["rows"]}
        exp = self.plan.expected(keys)
        table = read_committed_state(self.state_path)
        errs = []
        if table.num_rows != self.plan.keys:
            errs.append(f"state rows {table.num_rows} != {self.plan.keys}")
        cols = ["offer_id", "price_value", "is_unpublished", "total_price_changes",
                "price_changes", "price_changes_dates"]
        import pyarrow.compute as pc

        sub = table.filter(pc.is_in(table["offer_id"], pa.array(sorted(keys), pa.int64())))
        got = {r["offer_id"]: tuple(r[c] for c in cols[1:]) for r in sub.select(cols).to_pylist()}
        if len(got) != len(keys):
            errs.append(f"{len(keys) - len(got)} folded keys missing from state")
        for k, want in exp.items():
            if k in got and got[k] != want:
                errs.append(f"offer {k}: {got[k]} != expected {want}")
                if len(errs) > 5:
                    break
        return errs


class CorpusDedup:
    """MinHash-LSH near-dup pairs then connected components over a fresh
    document shard per op, forced with the noop sink."""

    name = "corpus_dedup"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.scratch = [os.path.join(work, "spark-local"), os.path.join(work, "tmp")]
        self.scratch_bytes: list[tuple[int, int]] = []  # (op index, bytes)

    def _scratch_files(self) -> dict:
        return {p: st for d in self.scratch for p, st in file_stats(d).items()}

    def state_bytes(self) -> int:
        """This pass keeps no state table. Its disk footprint is the
        scratch an op leaves in Spark's local and temp directories
        (shuffle and spill files, disk-resident checkpoint blocks): the
        median over the timed ops of the bytes of the files each op
        created there."""
        timed = [b for i, b in self.scratch_bytes if i >= WARMUP_OPS[self.name]]
        return statistics.median(timed or [b for _, b in self.scratch_bytes])

    def prepare(self, i: int) -> Op:
        docs, planted = gen.doc_shard(self.seed, i, DEDUP_DOCS)
        land = os.path.join(self.work, "landing", f"shard_{i:05d}")
        _land(land, ["doc_id", "text"], docs)
        return Op(i, len(docs), docs=docs, planted=planted, land=land,
                  df=self.spark.read.parquet(land), scratch=self._scratch_files())

    def run(self, op: Op) -> None:
        from rental_data_pipeline_spark.operators import dedup

        pairs = dedup.minhash_lsh_pairs(op.inputs["df"], threshold=DEDUP_THRESHOLD)
        labels = dedup.connected_components(pairs)
        labels.write.format("noop").mode("overwrite").save()
        op.result = (pairs, labels)

    def check(self, op: Op) -> list[str]:
        import shutil

        # before the collects below, which run jobs of their own
        new = written(op.inputs["scratch"], self._scratch_files())
        self.scratch_bytes.append((op.index, sum(new.values())))
        pairs_df, labels_df = op.result
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs_df.collect()}
        labels = {r["node"]: r["component"] for r in labels_df.collect()}
        shutil.rmtree(op.inputs["land"], ignore_errors=True)
        text = dict(op.inputs["docs"])
        sh = {}

        def shingles(d):
            if d not in sh:
                sh[d] = gen.shingle_set(text[d])
            return sh[d]

        errs = []
        planted = op.inputs["planted"]
        for (a, b), j in planted.items():
            if j >= RECALL_ALL_AT and (a, b) not in pairs:
                errs.append(f"planted pair ({a}, {b}) jaccard {j} not found")
        band = [p for p, j in planted.items() if DEDUP_THRESHOLD <= j < RECALL_ALL_AT]
        found = sum(p in pairs for p in band)
        if band and found < RECALL_FLOOR * len(band):
            errs.append(f"found {found} of {len(band)} planted pairs with jaccard in "
                        f"[{DEDUP_THRESHOLD}, {RECALL_ALL_AT}), below {RECALL_FLOOR:.0%}")
        for (a, b), j in pairs.items():
            true_j = gen.jaccard(shingles(a), shingles(b))
            if true_j < DEDUP_THRESHOLD or abs(true_j - j) > 1e-6:
                errs.append(f"pair ({a}, {b}) reported {j}, verifies at {true_j}")
        # components: every node's label is the least id of its group
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {n for p in pairs for n in p}
        if set(labels) != nodes:
            errs.append(f"components cover {len(labels)} nodes, pairs have {len(nodes)}")
        for n in nodes:
            if labels.get(n) != find(n):
                errs.append(f"node {n}: component {labels.get(n)} != {find(n)}")
                break
        return errs[:6]


WORKLOADS = {w.name: w for w in (HourlyBatch, StreamFold, CorpusDedup)}
