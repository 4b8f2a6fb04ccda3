"""The three jobs the benchmark times, each driven only through the
program's public functions, with their correctness checks.

A workload object is built once per run.  ``setup()`` prepares what
the job needs before the first op (input landing, initial store),
``op(k)`` runs one timed operation and returns how many input
records it completed, and ``check(k)`` verifies op ``k``'s output
outside the timed region, returning True when it matches.
"""

from __future__ import annotations

import inspect
import json
import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from bugzilla_etl_spark.plans import catalog
from bugzilla_etl_spark.plans import queries_history as QH
from bugzilla_etl_spark.sinks import es
from bugzilla_etl_spark.sources import load_table
from bugzilla_etl_spark.streaming import landing, progress
from bugzilla_etl_spark.streaming import incremental_versions as IV
from bugzilla_etl_spark.operators import backfill as BF
from tools.verify_local import canon_frame

from run import CURATION_ENTRIES


def _duck(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    spill = os.path.join(work, "duck_spill")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute("SET threads=2")
    return con


def _same(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    if len(spark_pdf) != len(oracle_pdf):
        return False
    return canon_frame(spark_pdf) == canon_frame(oracle_pdf)


def _version_chain_ok(store: pd.DataFrame) -> bool:
    """Each entity has exactly one open version, and every version's
    ``expires_on`` is the next version's ``version_ts``."""
    s = store.sort_values(["user_id", "version_ts"])
    nxt = s.groupby("user_id")["version_ts"].shift(-1)
    open_per_entity = s["expires_on"].isna().groupby(s["user_id"]).sum()
    return bool(
        (open_per_entity == 1).all()
        and (s["expires_on"].dropna() == nxt.dropna()).all()
        and (s["expires_on"].isna() == nxt.isna()).all()
    )


class Backfill:
    """One op = the catalog's ``full_backfill_clustered`` (clustered
    landing, validated descending block walk through
    ``build_full_docs``) then ``sinks.es.write_bulk`` of the landed
    docs."""

    name = "backfill"

    def __init__(self, spark, data_dir: str, work: str, manifest: dict,
                 tracer):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.manifest, self.tracer = manifest, tracer
        self.entry = catalog.QUERIES["full_backfill_clustered"]
        self._oracle_df: pd.DataFrame | None = None
        self._store = None
        self._bulk_dir = ""

    def setup(self) -> None:
        pass

    def op(self, k: int) -> int:
        BF.reset_split()
        with self.tracer.span("plans.full_backfill_clustered"):
            store = self.entry(self.spark, self.data_dir)
        bulk_dir = os.path.join(self.work, f"bulk_{k}")
        payload = [c for c in store.columns if c != "_id"]
        with self.tracer.span("sinks.es.write_bulk"):
            es.write_bulk(store, bulk_dir, "user_id", "version_ts", payload)
        self.tracer.layer_values(
            "operators.backfill",
            {
                "landing_write_s": BF.LAST_SPLIT.get("landing_write_sec", 0.0),
                "validate_s": BF.LAST_SPLIT.get("validate_sec", 0.0),
                "walk_s": BF.LAST_SPLIT.get("walk_sec", 0.0),
            },
        )
        self._store, self._bulk_dir = store, bulk_dir
        return self.manifest["n_events"]

    def _oracle(self) -> pd.DataFrame:
        if self._oracle_df is None:
            con = _duck(self.work)
            ev = os.path.join(self.data_dir, "events.parquet")
            con.execute(f"CREATE VIEW events AS SELECT * FROM '{ev}'")
            self._oracle_df = con.execute(QH._FULL_ORACLE).df()
            con.close()
        return self._oracle_df

    def check(self, k: int) -> bool:
        pdf = self._store.toPandas()
        ok = _same(pdf, self._oracle()) and _version_chain_ok(pdf)
        ids = []
        n_lines = 0
        for name in sorted(os.listdir(self._bulk_dir)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(self._bulk_dir, name)) as f:
                lines = f.read().splitlines()
            n_lines += len(lines)
            ids += [json.loads(a)["index"]["_id"] for a in lines[0::2]]
        want = {f"{u}_{t}" for u, t in zip(pdf["user_id"], pdf["version_ts"])}
        ok = ok and n_lines == 2 * len(pdf) and len(ids) == len(set(ids))
        return ok and set(ids) == want


class Incremental:
    """A closed loop with one client: each op lands the next slice of
    the change log and runs ``stream_full_rebuild(...,
    build_fn=build_full_docs)`` with its default arguments until the
    availableNow trigger ends.  The store is built in set-up from the
    first ``store_share`` of the log; ``check`` compares the store
    with the oracle over every event delivered so far, so it holds
    after the set-up as after any op."""

    name = "incremental"

    def __init__(self, spark, data_dir: str, work: str, manifest: dict,
                 tracer):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.manifest, self.tracer = manifest, tracer
        self.src = os.path.join(work, "landing")
        self.archive = os.path.join(work, "archive")
        self.docs = os.path.join(work, "docs")
        self.ckpt = os.path.join(work, "ckpt")
        self.delivered_to = 0  # event ids below this are delivered
        self.next_slice = 0
        self._last = None
        self._events = None
        self._schema = None

    def _deliver(self, lo: int, hi: int, name: str) -> None:
        part = self._events.where(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        with self.tracer.span("streaming.landing.land_parts"):
            landing.land_parts(self.src, [(name, part)])
        with self.tracer.span("streaming.incremental_versions") as sp:
            stream = (
                self.spark.readStream.schema(self._schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.src)
            )
            q = IV.stream_full_rebuild(
                stream,
                archive_dir=self.archive,
                docs_dir=self.docs,
                checkpoint_dir=self.ckpt,
                build_fn=QH.build_full_docs,
            ).start()
            q.awaitTermination()
        self.delivered_to = hi
        self._last = (q, sp, lo, hi)

    def record_layers(self, k: int) -> None:
        """Per-delivery layer figures of op ``k`` for the traced run,
        read after the op, outside its timed region."""
        q, span, lo, hi = self._last
        snap = progress.snapshot(q)
        dur = snap["duration_ms"]
        trig = dur.get("triggerExecution", 0) / 1000.0
        self.tracer.layer_values(
            "streaming.progress",
            {
                "trigger_execution_s": trig,
                "add_batch_s": dur.get("addBatch", 0) / 1000.0,
                "query_planning_s": dur.get("queryPlanning", 0) / 1000.0,
                "wal_commit_s": dur.get("walCommit", 0) / 1000.0,
                "commit_offsets_s": dur.get("commitOffsets", 0) / 1000.0,
                "latest_offset_s": dur.get("latestOffset", 0) / 1000.0,
            },
            op=k,
        )
        wall = span["end"] - span["start"]
        self.tracer.layer_values(
            "streaming", {"start_stop_s": wall - trig}, op=k
        )
        split = IV.LAST_SPLIT
        buckets, touched_rows, written_rows = self._rewrite_stats(lo, hi)
        self.tracer.layer_values(
            "streaming.incremental_versions",
            {
                "restore_s": split.get("restore", 0.0),
                "discover_s": split.get("discover", 0.0),
                "append_s": split.get("append", 0.0),
                "rebuild_write_s": split.get("rebuild_write", 0.0),
                "swap_s": split.get("swap", 0.0),
                "buckets_touched": float(buckets),
                "rewrite_ratio": written_rows / max(touched_rows, 1),
            },
            op=k,
        )

    def _rewrite_stats(self, lo: int, hi: int) -> tuple[int, int, int]:
        """(buckets the delivery touched, doc rows of its touched
        entities, doc rows in the rewritten buckets), with the store's
        own bucket rule at the runner's default bucket count."""
        n_buckets = inspect.signature(IV.stream_full_rebuild).parameters[
            "n_buckets"
        ].default
        delta = self._events.where(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        touched = delta.select("user_id").distinct()
        buckets = [
            r[0]
            for r in delta.select(
                F.pmod(F.hash("user_id"), F.lit(n_buckets))
            ).distinct().collect()
        ]
        store = self.spark.read.parquet(self.docs)
        written = store.where(F.col("bucket").isin(buckets)).count()
        touched_rows = store.join(touched, "user_id", "left_semi").count()
        return len(buckets), touched_rows, written

    def setup(self) -> None:
        os.makedirs(self.src)
        self._events = load_table(self.spark, self.data_dir, "events")
        self._schema = self._events.schema
        self._deliver(0, self.manifest["store_end"], "d_store")

    def slices_left(self) -> int:
        return len(self.manifest["slices"]) - self.next_slice

    def op(self, k: int) -> int:
        lo, hi = self.manifest["slices"][self.next_slice]
        self.next_slice += 1
        self._deliver(lo, hi, f"d{self.next_slice:05d}")
        return hi - lo

    def check(self, k: int) -> bool:
        got = self.spark.read.parquet(self.docs).drop("bucket").toPandas()
        con = _duck(self.work)
        ev = os.path.join(self.data_dir, "events.parquet")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{ev}' "
            f"WHERE event_id < {self.delivered_to}"
        )
        want = con.execute(QH._FULL_ORACLE).df()
        con.close()
        return _same(got, want) and _version_chain_ok(got)


class Curation:
    """One op = one pass of the dedup tier (``dedup_minhash_lsh``,
    ``dedup_jaccard_invindex``, ``dedup_containment``,
    ``dedup_components``) plus ``dedup_exact`` and ``curate_corpus``,
    each result written to the noop sink."""

    name = "curation"

    def __init__(self, spark, data_dir: str, work: str, manifest: dict,
                 tracer):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.manifest, self.tracer = manifest, tracer
        self.collected: dict[str, pd.DataFrame] = {}
        self.detail: dict[str, bool] = {}

    def setup(self) -> None:
        pass

    def op(self, k: int, collect: bool = False) -> int:
        for name in CURATION_ENTRIES:
            with self.tracer.span(f"plans.{name}"):
                df = catalog.QUERIES[name](self.spark, self.data_dir)
                if collect:
                    self.collected[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        return self.manifest["n_docs"]

    def check(self, k: int) -> bool:
        """Compares the collected pass (a warm-up pass run through the
        same plans with ``toPandas`` as its sink) with the oracles.
        ``dedup_components`` is compared with the connected components
        of the ``dedup_minhash_lsh`` oracle's pairs (the same pair
        rule), not with its own catalog oracle, which takes ~20 s in
        DuckDB at this corpus size."""
        con = _duck(self.work)
        docs = os.path.join(self.data_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
        want = {
            name: con.execute(catalog.ORACLES[name]).df()
            for name in CURATION_ENTRIES
            if name != "dedup_components"
        }
        doc_ids = con.execute("SELECT doc_id FROM documents").df()["doc_id"]
        con.close()
        want["dedup_components"] = _components(
            doc_ids, want["dedup_minhash_lsh"]
        )
        for name in CURATION_ENTRIES:
            self.detail[name] = _same(self.collected[name], want[name])
        exact = self.collected["dedup_exact"].set_index("doc_id")
        self.detail["planted_exact_groups"] = all(
            exact.loc[group, "canonical_id"].nunique() == 1
            and int(exact.loc[group[0], "group_size"]) >= len(group)
            for group in self.manifest["exact_groups"]
        )
        return all(self.detail.values())


def _components(doc_ids, pairs: pd.DataFrame) -> pd.DataFrame:
    """Connected components of the near-duplicate pairs by union-find,
    each labelled with its smallest ``doc_id``; a doc in no pair is
    its own component."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs["doc_a"], pairs["doc_b"]):
        ra, rb = find(int(a)), find(int(b))
        parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame(
        {"doc_id": list(parent), "component": [find(d) for d in parent]}
    )


WORKLOADS = {w.name: w for w in (Backfill, Incremental, Curation)}
