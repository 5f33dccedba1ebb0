"""The benchmark's closed-loop workloads.

Each workload prepares its inputs in ``setup``, runs one cycle per
``cycle`` call (the only timed part) and checks that cycle's output in
``check``.  ``stored_bytes`` and ``input_bytes`` give the space side:
the bytes the measured cycles wrote that the sinks and stores still
hold at the end, against the input those cycles consumed.

- ``sync_cycle``: four legs of the reference's scheduled sync cycle over
  the fixed star-schema tables under ``perfbench/data``, each written
  through its sink.
- ``curation_stream``: one ``run_streaming_tick`` call per landed file,
  against standing PQ codebooks and stores primed from an archive.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

XML_HEADER = (
    '<persons xmlns="v1.unified-person-sync.pure.atira.dk"'
    ' xmlns:v3="v3.commons.pure.atira.dk">'
)
XML_FOOTER = "</persons>"
REJECT_REASONS = {
    "low_quality", "repetitive", "duplicate", "near_duplicate",
    "semantic_duplicate",
}
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# kept documents per streaming tick, recorded from runs of the program:
# {"seed=S size=Z tick=N": kept}; seeds not listed are not checked
KEPT_COUNTS = os.path.join(DATA, "kept_counts.json")

# Input sizes: the sync tables' scale factor (a copy of the repository's
# test tables), stream archive documents, documents per tick.  "tiny" is
# the smoke test's; the stream has the same size in both.
SIZES = {
    "full": {"sf": "sf0.01", "archive": 200, "tick_docs": 100},
    "tiny": {"sf": "sf0.001", "archive": 200, "tick_docs": 100},
}


class CheckFailed(AssertionError):
    """A cycle's output differs from its oracle or breaks an invariant."""


def rows_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, normalized the way the
    oracle-parity tests compare Spark and DuckDB rows."""
    from tests.oracle_utils import rows_multiset

    names, ms = rows_multiset(cols, rows)
    return hashlib.sha256(json.dumps([names, ms]).encode()).hexdigest()


def file_stats(path: str) -> dict[str, tuple[int, int]]:
    """``{file: (size, mtime_ns)}`` of every file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str) -> int:
    return sum(size for size, _ in file_stats(path).values())


class Workload:
    name = ""
    inputs_note = ""

    def __init__(self, spark, root: str, seed: int, tracer, size: str):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tr = tracer
        self.size_name = size
        self.size = SIZES[size]
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        self.input_bytes = 0
        self.primed: dict[str, tuple[int, int]] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def land_batch(self, i: int) -> None:
        """Untimed input arrival before cycle ``i``; none by default."""

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def check(self, i: int) -> None:
        raise NotImplementedError

    def mark_primed(self) -> None:
        """Called when set-up ends: files that exist now were written by
        the benchmark, not by a measured cycle."""
        self.primed = file_stats(self.out)

    def stored_bytes(self) -> int:
        """Bytes under the output directory in files the measured cycles
        created or rewrote."""
        return sum(
            st[0] for path, st in file_stats(self.out).items()
            if self.primed.get(path) != st
        )

    def store_stats(self) -> dict:
        """Size and live partitions of the streaming stores, if any."""
        return {}


class SyncCycle(Workload):
    """The reference's 4-hourly cycle: person XML, CDC, pubs, org tree.
    Its inputs are fixed; the seed does not change them."""

    name = "sync_cycle"
    inputs_note = "fixed tables under perfbench/data; the seed does not change them"
    LEGS = ("person_cycle_xml", "cdc_end_to_end", "pub_cycle", "tree_depths")
    # the tables the four legs read, once per cycle
    TABLES = ("orders", "events", "lineitem", "nation", "supplier", "customer")

    def setup(self) -> None:
        self.inputs = os.path.join(DATA, self.size["sf"])
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.inputs, f"{t}.parquet"))
            for t in self.TABLES
        )
        self.expected: dict[str, str] = {}
        self._oracle_hashes(self.LEGS)
        os.makedirs(self.out, exist_ok=True)

    def cycle(self, i: int) -> None:
        from experts_etl_spark.sources import serialization, sinks

        df = self._build("person_cycle_xml")
        with self.tr.span("person_cycle_xml", "sources", kind="exec"):
            serialization.write_single_xml(
                df, os.path.join(self.out, "person.xml"), "xml", ["person_id"],
                header=XML_HEADER, footer=XML_FOOTER,
            )
        df = self._build("cdc_end_to_end")
        with self.tr.span("cdc_end_to_end", "sources", kind="exec"):
            sinks.overwrite_partitions(
                df, os.path.join(self.out, "cdc_end_to_end"), ["event_type"]
            )
        for leg in ("pub_cycle", "tree_depths"):
            df = self._build(leg)
            with self.tr.span(leg, "sources", kind="exec"):
                df.write.mode("overwrite").parquet(os.path.join(self.out, leg))

    def check(self, i: int) -> None:
        with open(os.path.join(self.out, "person.xml"), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != self.expected["person_cycle_xml"]:
                raise CheckFailed("person_cycle_xml: file differs from its DuckDB oracle")
        self._check_parquet_sinks(self.LEGS[1:])

    def _duck(self):
        import duckdb

        con = duckdb.connect()
        for t in self.TABLES:
            path = os.path.join(self.inputs, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return con

    def _oracle_hashes(self, legs) -> None:
        """Expected result hash of every leg, from its DuckDB twin."""
        from experts_etl_spark.plans import registry

        con = self._duck()
        try:
            for leg in legs:
                res = con.execute(registry.ORACLES[leg])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                if leg == "person_cycle_xml":
                    xml = dict(zip(cols, zip(*rows)))
                    order = sorted(range(len(rows)), key=lambda r: xml["person_id"][r])
                    body = "".join((xml["xml"][r] or "") + "\n" for r in order)
                    text = f"{XML_HEADER}\n{body}{XML_FOOTER}\n"
                    self.expected[leg] = hashlib.sha256(text.encode()).hexdigest()
                else:
                    self.expected[leg] = rows_hash(cols, rows)
        finally:
            con.close()

    def _check_parquet_sinks(self, legs) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for leg in legs:
                path = os.path.join(self.out, leg)
                res = con.execute(
                    f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                    "hive_partitioning = true)"
                )
                got = rows_hash([d[0] for d in res.description], res.fetchall())
                if got != self.expected[leg]:
                    raise CheckFailed(f"{leg}: sink differs from its DuckDB oracle")
        finally:
            con.close()

    def _build(self, leg: str):
        from experts_etl_spark.plans import registry

        with self.tr.span(leg, "plans", kind="build"):
            return registry.QUERIES[leg](self.spark, self.inputs)


class CurationStream(Workload):
    """One streaming tick per landed file, against primed stores.

    The stores are primed the way a backfill leaves them, as live
    partitions.  The window-count store, the largest, holds one
    partition fewer than the default compaction arm's 64, so the arm
    folds it on the first measured tick; the other three hold one fewer
    still and do not fold (folding all four would add ~7 s to a tick,
    more than the run budget carries).  Set-up generates ``MAX_TICKS``
    batches; a longer run fails its extra cycles."""

    name = "curation_stream"
    inputs_note = "documents and embeddings generated from the seed"
    MAX_TICKS = 16
    STORES = ("_fingerprints", "_signatures", "_window_counts", "_kept_embeddings", "_pq_index")

    def setup(self) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from experts_etl_spark.llm.curation import substring_window_store
        from experts_etl_spark.llm.dedup import signature_shingle_sets
        from experts_etl_spark.llm.pq import pq_train
        from experts_etl_spark.llm.similarity import auto_srp_bits, srp_bucket
        from experts_etl_spark.llm.text import fingerprint
        from experts_etl_spark.streaming.stores import DEFAULT_MAX_LIVE_PARTITIONS

        from tools.gen_scaledata import generate

        n_arch, per_tick = self.size["archive"], self.size["tick_docs"]
        n_all = n_arch + self.MAX_TICKS * per_tick
        # documents with a Heaps' law vocabulary, and uniform embeddings:
        # with clustered ones every new document is a semantic duplicate
        # of the archive and a tick keeps nothing
        generate(self.inputs, docs=n_all, vecs=n_all, seed=self.seed,
                 mode="uniform", corpus="heaps")
        docs = pq.read_table(os.path.join(self.inputs, "documents.parquet"))
        embs = pq.read_table(os.path.join(self.inputs, "embeddings.parquet"))
        # every vector, keyed by doc id: the upstream table a tick joins
        self.emb_src = os.path.join(self.inputs, "emb_src")
        os.makedirs(self.emb_src, exist_ok=True)
        pq.write_table(embs, os.path.join(self.emb_src, "part-0.parquet"))
        self.batches = []
        for t in range(self.MAX_TICKS):
            lo = n_arch + t * per_tick
            self.batches.append(docs.slice(lo, per_tick))
        arch_dir = os.path.join(self.inputs, "archive")
        os.makedirs(arch_dir, exist_ok=True)
        pq.write_table(docs.slice(0, n_arch), os.path.join(arch_dir, "documents.parquet"))
        pq.write_table(embs.slice(0, n_arch), os.path.join(arch_dir, "embeddings.parquet"))
        self.emb_row_bytes = os.path.getsize(
            os.path.join(self.emb_src, "part-0.parquet")
        ) / n_all

        spark = self.spark
        a_docs = spark.read.parquet(os.path.join(arch_dir, "documents.parquet"))
        a_emb = spark.read.parquet(os.path.join(arch_dir, "embeddings.parquet"))
        self.books = os.path.join(self.root, "books")
        _, books = pq_train(a_emb, "vec_id", "embedding", train_mod="auto")
        books.write.mode("overwrite").parquet(self.books)

        fold_at = DEFAULT_MAX_LIVE_PARTITIONS - 1  # one tick reaches the arm
        bits = auto_srp_bits(n_arch)

        def part(key: str, n_dirs: int):
            # Round-robin by key, so every store fills all its partitions
            # and the same store folds on every seed.  Negative backfill
            # ids never collide with foreachBatch's.
            rank = F.row_number().over(Window.orderBy(key))
            return (-1 - F.pmod(rank, F.lit(n_dirs))).cast("int").alias("batch_id")

        for content, key, sub in (
            (a_docs.select(fingerprint(F.col("text")).alias("fp")).distinct(), "fp", "_fingerprints"),
            (signature_shingle_sets(a_docs, "text", "doc_id"), "doc_id", "_signatures"),
            (substring_window_store(a_docs, "text", "doc_id"), "win", "_window_counts"),
            (a_emb.select("vec_id", "embedding",
                          srp_bucket(F.col("embedding"), bits).alias("bucket")),
             "vec_id", "_kept_embeddings"),
        ):
            # one file per partition, as one tick's write leaves it
            n_dirs = fold_at if sub == "_window_counts" else fold_at - 1
            content.withColumn("batch_id", part(key, n_dirs)).repartition(
                "batch_id"
            ).write.partitionBy(
                "batch_id"
            ).mode("overwrite").parquet(os.path.join(self.out, sub))
        spark.createDataFrame(
            [(int(bits), int(n_arch))], "bits int, n_kept bigint"
        ).write.mode("overwrite").parquet(
            os.path.join(self.out, "_kept_embeddings", "_srp_meta")
        )
        self.land = os.path.join(self.root, "land")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.land, exist_ok=True)
        with open(KEPT_COUNTS) as fh:
            self.kept_counts = json.load(fh)

    def land_batch(self, i: int) -> None:
        """Untimed: the upstream producer drops tick ``i``'s file."""
        batch = self.batches[i]
        pq.write_table(batch, os.path.join(self.land, f"tick{i:04d}.parquet"))
        self.input_bytes += os.path.getsize(
            os.path.join(self.land, f"tick{i:04d}.parquet")
        ) + int(self.emb_row_bytes * batch.num_rows)

    def cycle(self, i: int) -> None:
        from experts_etl_spark.streaming import tick

        with self.tr.span("run_streaming_tick", "streaming"):
            tick.run_streaming_tick(
                self.spark, self.land, self.emb_src, self.out, self.ckpt,
                books_path=self.books,
            )

    def check(self, i: int) -> None:
        """Tick ``i`` is micro-batch ``i``: every landed id decided once,
        every reject with a known reason, and as many kept as
        ``KEPT_COUNTS`` records for the seed."""
        landed = self.batches[i].column("doc_id").to_pylist()

        def ids(sink: str, cols):
            path = os.path.join(self.out, sink, f"batch_id={i}")
            if not glob.glob(os.path.join(path, "*.parquet")):
                return pa.table({c: [] for c in cols})
            return pq.read_table(path, columns=cols)

        keep = ids("keep", ["doc_id"])
        reject = ids("reject", ["doc_id", "reject_reason"])
        decided = keep.column("doc_id").to_pylist() + reject.column("doc_id").to_pylist()
        if sorted(decided) != sorted(landed):
            raise CheckFailed(
                f"tick {i}: {len(decided)} decisions for {len(landed)} landed docs"
            )
        unknown = set(reject.column("reject_reason").to_pylist()) - REJECT_REASONS
        if unknown:
            raise CheckFailed(f"tick {i}: unknown reject reasons {sorted(unknown)}")
        expected = self.kept_counts.get(f"seed={self.seed} size={self.size_name} tick={i}")
        if expected is not None and expected != keep.num_rows:
            raise CheckFailed(
                f"tick {i}: kept {keep.num_rows} documents, {expected} expected for this seed"
            )

    def store_stats(self) -> dict:
        live = sum(
            len(glob.glob(os.path.join(self.out, s, "batch_id=*"))) for s in self.STORES
        )
        return {
            "bytes": sum(dir_bytes(os.path.join(self.out, s)) for s in self.STORES),
            "live_partitions": live,
        }


WORKLOADS = {w.name: w for w in (SyncCycle, CurationStream)}
