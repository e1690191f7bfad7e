"""The benchmark's workloads, built from the package's public functions.

A workload is a list of legs. A job runs every leg once, in order; one
client runs jobs back to back (a closed loop). Each leg:

* ``run(ctx, tr)`` does the timed work and returns its outputs;
* ``check(ctx, out)`` compares them with DuckDB's, outside the timed region;
* ``reduce(expected)`` (optional) replaces a large expected output by
  what the check needs, before the run starts.

Every leg calls the pipeline functions (``plans.pipelines``) as a user
would. In a traced job, while a pipeline function runs, the layer
functions it calls (``LAYER_FUNCTIONS``) are wrapped: each call runs in
its own span and its output is materialised (``tr.cut``), so each lazy
layer's execution lands in its own span. What the pipeline does between
two layer calls (an inline join, filter or derived column) is
materialised in an ``inline.<next call>`` span, and what it does after
its last layer call in ``inline.<pipeline>``.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import shutil
import time
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import __spark_entry__ as registry
from pac_data_pipeline_spark.ext.dedup_text import minhash_near_dup_pairs
from pac_data_pipeline_spark.plans import pipelines
from pac_data_pipeline_spark.sinks.documents import (
    foreach_partition_write,
    nested_path_records,
    to_doc_records,
    verify_write,
    write_parquet,
)
from pac_data_pipeline_spark.sources.docstore import register_docstore
from pac_data_pipeline_spark.sources.readers import scan_parquet

from check import mismatch


@dataclass
class Ctx:
    """State of one run, shared by the legs."""

    spark: object
    data: str            # generated input directory
    work: str            # sink outputs; cleared before each job, untimed
    expected: dict       # oracle name -> DuckDB result (or its reduction)
    corrupt: bool = False
    counts: dict = field(default_factory=dict)    # per-job layer counters

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def compare(self, got: pd.DataFrame, oracle_name: str) -> str | None:
        if self.corrupt and len(got):
            got = got.iloc[:-1]  # self-test: a dropped row must be caught
        err = mismatch(got, self.expected[oracle_name])
        return f"{oracle_name}: {err}" if err else None


# --------------------------------------------------------------------------
# tracing the pipeline functions' layer calls
# --------------------------------------------------------------------------

#: The layer functions the pipeline functions call, by defining module
#: (under ``pac_data_pipeline_spark``). A traced job wraps each in its
#: defining module, which the pipelines' function-local imports read, and
#: in ``plans.pipelines``, which imports some at module level.
LAYER_FUNCTIONS = {
    "sources.readers": ("scan_parquet",),
    "functions.cleaning": ("clean", "with_metadata"),
    "operators.dedup": ("dedup_keep_first",),
    "operators.aggregates": ("conditional_party_rollup",),
    "operators.joins": ("dim_lookup",),
    "sinks.documents": ("with_upload_shard",),
    "ext.dedup_text": ("exact_dedup", "decontaminate"),
}


def _settle(tr, df, name: str):
    """In a traced job, materialise ``df`` in an ``inline.<name>`` span
    unless it is materialised already (a layer call's output)."""
    if not tr.enabled or not isinstance(df, DataFrame):
        return df
    if df._jdf.queryExecution().logical().nodeName() == "LogicalRDD":
        return df
    with tr.span(f"inline.{name}"):
        return tr.cut(df)


def _layer_call(tr, span: str, fn, calls: list):
    name = span.split(".", 1)[1]

    @functools.wraps(fn)
    def call(*args, **kwargs):
        args = [_settle(tr, a, name) for a in args]
        kwargs = {k: _settle(tr, v, name) for k, v in kwargs.items()}
        with tr.span(span):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = tr.cut(out)
        calls.append((span, args[0] if args else None, out))
        return out

    return call


@contextmanager
def traced_layers(tr, calls: list):
    """In a traced job, while open, run every call of a function in
    ``LAYER_FUNCTIONS`` in its own span, its DataFrame arguments and
    result materialised, and append ``(span, first argument, result)``
    to ``calls``. Untraced, changes nothing."""
    patched = []
    if tr.enabled:
        for mod, names in LAYER_FUNCTIONS.items():
            module = importlib.import_module(f"pac_data_pipeline_spark.{mod}")
            for name in names:
                fn = getattr(module, name)
                wrapper = _layer_call(tr, f"{mod.split('.')[0]}.{name}", fn, calls)
                for m in (module, pipelines):
                    if getattr(m, name, None) is fn:
                        patched.append((m, name, fn))
                        setattr(m, name, wrapper)
    try:
        yield
    finally:
        for m, name, fn in patched:
            setattr(m, name, fn)


def build(ctx: Ctx, tr, name: str, *args):
    """Call ``pipelines.<name>(*args)`` inside its span. Untraced, records
    the time spent in the call itself (planning and any eager probes, not
    the lazy execution). Traced, its layer calls run in spans of their
    own, its output is materialised, and the rows into and out of each
    ``dedup_keep_first`` are counted."""
    calls: list = []
    with tr.span(f"plans.{name}"):
        with traced_layers(tr, calls):
            t0 = time.perf_counter()
            df = getattr(pipelines, name)(*args)
            ctx.add("build_s", time.perf_counter() - t0)
        df = _settle(tr, df, name)
    for span, first, out in calls:
        if span == "operators.dedup_keep_first":
            ctx.add("dedup_in", first.count())
            ctx.add("dedup_out", out.count())
    return df


# --------------------------------------------------------------------------
# contrib_upload: the reference's own traffic
# --------------------------------------------------------------------------


def _record_digest():
    """CRC of one uploaded record in canonical form: its document id and
    the fields ``pipe_snowflake_batch`` has, money at two decimals (the
    generated inputs carry two). Summed over records, it is an order-free
    digest of an upload. Nested, so Spark ships it to workers by value."""

    def digest(document_id: str, d: dict) -> int:
        money = ["None" if d[c] is None or d[c] != d[c] else f"{float(d[c]):.2f}"
                 for c in ("l_extendedprice", "l_quantity")]
        rec = "\x1f".join(map(str, (document_id, d["l_orderkey"], d["l_linenumber"],
                                    d["upload_shard"], d["data_source"], d["record_type"],
                                    *money)))
        return zlib.crc32(rec.encode())

    return digest


def _counting_writer(sc, corrupt: bool, canonical: bool):
    """In-process stand-in for the document store's batch API: counts
    batches, records and payload bytes, and sums a CRC of every record as
    sent (``raw``), an order-free digest of the upload. With
    ``canonical`` it also sums ``_record_digest``, which parses each
    record and costs about ten times as much."""
    acc = {k: sc.accumulator(0) for k in ("batches", "bytes", "raw", "canonical")}
    record_digest = _record_digest()

    def write_batch(rows: list[dict]) -> int:
        if corrupt and len(rows) > 1:
            rows = rows[:-1] + rows[:1]  # self-test: one record lost, one sent twice
        size = raw = canon = 0
        for r in rows:
            rec = f"{r['document_id']}\x1f{r['data']}".encode()
            size += len(rec)
            raw += zlib.crc32(rec)
            if canonical:
                canon += record_digest(r["document_id"], json.loads(r["data"]))
        acc["batches"].add(1)
        acc["bytes"].add(size)
        acc["raw"].add(raw)
        acc["canonical"].add(canon)
        return len(rows)

    return write_batch, acc


class Upload:
    """Snowflake-style batch upload: clean, dedup, shard, then document
    records through the batched writer (1000-row cap, 80% success gate).

    A run's first job (a warm-up job) checks the canonical digest of the
    uploaded records against the oracle's rows, and keeps its raw digest;
    every later job's raw digest must equal it. So every job's upload is
    compared with DuckDB while the timed jobs pay only for the raw CRC.
    The self-test's corrupted jobs are checked both ways."""

    oracles = ("pipe_snowflake_batch",)

    def reduce(self, expected: dict) -> None:
        """The check needs the row count and the digest of the expected
        records, not the rows."""
        want = expected["pipe_snowflake_batch"]
        record_digest = _record_digest()
        total = sum(
            record_digest(f"{r.l_orderkey}-{r.l_linenumber}", {
                "l_orderkey": r.l_orderkey, "l_linenumber": r.l_linenumber,
                "upload_shard": r.upload_shard, "data_source": r.data_source,
                "record_type": r.record_type, "l_extendedprice": r.price,
                "l_quantity": r.qty})
            for r in want.itertuples(index=False))
        expected["pipe_snowflake_batch"] = {"rows": len(want), "digest": total}

    def run(self, ctx: Ctx, tr) -> dict:
        batch = build(ctx, tr, "snowflake_batch_pipeline", ctx.spark, ctx.data)
        with tr.span("sinks.to_doc_records"):
            docs = to_doc_records(
                batch.withColumn("record_id", F.concat_ws("-", "l_orderkey", "l_linenumber")),
                "pac_contributions", "record_id")
        canonical = ctx.corrupt or "raw" not in ctx.expected["pipe_snowflake_batch"]
        write_batch, acc = _counting_writer(ctx.spark.sparkContext, ctx.corrupt, canonical)
        with tr.span("sinks.foreach_partition_write"):
            res = foreach_partition_write(docs, write_batch, batch_size=1000)
        return {**res, **{k: a.value for k, a in acc.items()}, "checked": canonical}

    def check(self, ctx: Ctx, out: dict) -> str | None:
        ctx.add("sink_rows", out["written"])
        ctx.add("upload_written", out["written"])
        ctx.add("sink_attempted", out["attempted"])
        ctx.add("sink_batches", out["batches"])
        ctx.add("sink_bytes", out["bytes"])
        want = ctx.expected["pipe_snowflake_batch"]
        if not (out["attempted"] == out["written"] == want["rows"] and out["success"]):
            return (f"upload: attempted {out['attempted']}, written {out['written']}, "
                    f"expected {want['rows']}")
        errs = []
        if out["checked"] and out["canonical"] != want["digest"]:
            errs.append("from pipe_snowflake_batch (digest)")
        elif out["checked"]:
            want.setdefault("raw", out["raw"])
        if want.get("raw", out["raw"]) != out["raw"]:
            errs.append("from the first job's upload, which matched it")
        return f"upload: uploaded records differ {' and '.join(errs)}" if errs else None


class RollupTree:
    """Realtime-database shape: party rollup per (brand, cycle) as nested
    path documents, written to the ``pac_docstore`` connector and read
    back. The tree has one document per rollup row (about 700 at scale
    1), which keeps the one-file-per-document write small enough to be
    steady."""

    oracles = ("a10_nested_rollup",)

    def run(self, ctx: Ctx, tr) -> dict:
        rolled = build(ctx, tr, "party_rollup_pipeline", ctx.spark, ctx.data)
        with tr.span("sinks.nested_path_records"):
            tree = nested_path_records(rolled)
        store = os.path.join(ctx.work, "docstore")
        docs = tree.select(F.translate("path", "/", ".").alias("doc_key"), "payload")
        with tr.span("sinks.docstore_write"):
            docs.write.format("pac_docstore").mode("overwrite").save(store)
        with tr.span("sources.docstore_read"):
            back = ctx.spark.read.format("pac_docstore").option("shards", "4").load(store).toPandas()
        return {"back": back, "n_files": len(os.listdir(store))}

    def check(self, ctx: Ctx, out: dict) -> str | None:
        back = out["back"]
        ctx.add("sink_rows", out["n_files"])
        if len(back) != out["n_files"]:
            return f"docstore: read back {len(back)} of {out['n_files']} documents"
        got = pd.DataFrame({"path": back["doc_key"].str.replace(".", "/", regex=False),
                            "payload": back["payload"]})
        return ctx.compare(got, "a10_nested_rollup")


class CsvReport:
    """CSV-report shape: clean, derive, dedup; written as parquet and
    verified by reading the count back."""

    oracles = ("pipe_csv_report",)

    def run(self, ctx: Ctx, tr) -> dict:
        report = build(ctx, tr, "csv_report_pipeline", ctx.spark, ctx.data)
        path = os.path.join(ctx.work, "csv_report")
        with tr.span("sinks.write_parquet"):
            write_parquet(report, path)
        with tr.span("sinks.verify_write"):
            verified = verify_write(ctx.spark, path, len(ctx.expected["pipe_csv_report"]))
        return {"verified": verified, "path": path}

    def check(self, ctx: Ctx, out: dict) -> str | None:
        ctx.add("sink_rows", out["verified"]["actual"])
        if not out["verified"]["ok"]:
            return f"csv report: verify_write {out['verified']}"
        written = pd.read_parquet(out["path"])
        # the oracle's projection of the report; money has two decimals
        got = pd.DataFrame({"o_orderkey": written["o_orderkey"],
                            "business_key": written["business_key"],
                            "amount_category": written["amount_category"],
                            "total": written["o_totalprice"].round(2),
                            "status": written["o_orderstatus"]})
        return ctx.compare(got, "pipe_csv_report")


class ChangeReplay:
    """Realtime leg: the change-event backlog drained through the
    streaming layer, each query driven to completion: the foreachBatch
    CDC merge (latest value per user) and a watermarked tumbling window
    (state-store aggregation)."""

    STREAMS = (
        ("x_stream_cdc", "run_streaming_cdc_merge"),
        ("x_stream_tumbling", "run_streaming_tumbling"),
    )
    oracles = tuple(q for q, _ in STREAMS)

    def run(self, ctx: Ctx, tr) -> dict:
        qs = registry.queries()
        out = {}
        for query, fn in self.STREAMS:
            with tr.span(f"streaming.{fn}"):
                out[query] = qs[query](ctx.spark, ctx.data).toPandas()
        return out

    def check(self, ctx: Ctx, out: dict) -> str | None:
        for query, got in out.items():
            err = ctx.compare(got, query)
            if err:
                return err
        return None


# --------------------------------------------------------------------------
# corpus_prep: LLM training-data traffic
# --------------------------------------------------------------------------


class CorpusManifest:
    """Quality and language filter, exact dedup, decontamination; the
    manifest is written as parquet."""

    oracles = ("pipe_train_corpus",)

    def run(self, ctx: Ctx, tr) -> dict:
        manifest = build(ctx, tr, "train_corpus_pipeline", ctx.spark, ctx.data)
        path = os.path.join(ctx.work, "manifest")
        with tr.span("sinks.write_parquet"):
            write_parquet(manifest, path)
        return {"path": path}

    def check(self, ctx: Ctx, out: dict) -> str | None:
        got = pd.read_parquet(out["path"])
        ctx.add("docs_kept", len(got))
        return ctx.compare(got, "pipe_train_corpus")


class NearDups:
    """Portable MinHash + LSH near-duplicate pairs over the corpus."""

    oracles = ("x_minhash_portable",)

    def run(self, ctx: Ctx, tr) -> dict:
        docs = scan_parquet(ctx.spark, f"{ctx.data}/documents.parquet")
        with tr.span("ext.minhash_near_dup_pairs"):
            pairs = minhash_near_dup_pairs(docs, threshold=0.5, bands=8, portable=True)
            return {"pairs": pairs.toPandas()}

    def check(self, ctx: Ctx, out: dict) -> str | None:
        ctx.add("near_dup_pairs", len(out["pairs"]))
        return ctx.compare(out["pairs"], "x_minhash_portable")


# --------------------------------------------------------------------------


@dataclass
class Workload:
    name: str
    sizes: dict[str, int]     # generated rows per table at scale 1
    input_tables: tuple       # tables whose rows count as the job's input
    legs: list
    #: Jobs run as part of set-up. The first job of a fresh JVM (class
    #: loading, code generation, JIT, Python worker start-up) costs two to
    #: five steady ones. On contrib_upload the second is about 15% slower
    #: than later ones; on corpus_prep jobs two to four still get faster
    #: (by about 30% in all), so it warms up longer.
    warmup_jobs: int

    @property
    def oracles(self) -> list[str]:
        return [o for leg in self.legs for o in leg.oracles]

    def sized(self, scale: float) -> dict[str, int]:
        """Input sizes at ``scale``: fact tables scale, dimensions do not."""
        return {t: max(64, int(n * scale)) if t in self.input_tables else n
                for t, n in self.sizes.items()}

    def clear_outputs(self, ctx: Ctx) -> None:
        shutil.rmtree(ctx.work, ignore_errors=True)
        os.makedirs(ctx.work)

    def job(self, ctx: Ctx, tr) -> list:
        """One job: every leg in order. Returns the legs' outputs."""
        return [leg.run(ctx, tr) for leg in self.legs]

    def check(self, ctx: Ctx, outs: list) -> list[str]:
        errs = [leg.check(ctx, out) for leg, out in zip(self.legs, outs)]
        return [e for e in errs if e]

    def reduce_expected(self, expected: dict) -> dict:
        for leg in self.legs:
            if hasattr(leg, "reduce"):
                leg.reduce(expected)
        return expected


#: Sizes at scale 1 keep a run (set-up and jobs) near a minute on a
#: 4-core, 15 GB machine. Per-job overhead carries most of the job time at
#: these sizes: doubling the inputs multiplied the median job time by 1.19
#: (contrib_upload) and 1.34 (corpus_prep), seed 401.
WORKLOADS = {
    "contrib_upload": Workload(
        "contrib_upload",
        sizes={"lineitem": 60_000, "orders": 15_000, "supplier": 100, "events": 6_000},
        input_tables=("lineitem", "orders", "events"),
        legs=[Upload(), RollupTree(), CsvReport(), ChangeReplay()],
        warmup_jobs=1,
    ),
    "corpus_prep": Workload(
        "corpus_prep",
        sizes={"documents": 800},
        input_tables=("documents",),
        legs=[CorpusManifest(), NearDups()],
        warmup_jobs=2,
    ),
}


def setup_session(spark) -> None:
    """Per-session registration the legs rely on."""
    register_docstore(spark)
