"""The three workloads: inputs, the timed op, its correctness checks, the
span wrappers for the traced run, and the per-layer metrics.

Each op is one closed-loop call by a single client; the next op starts only
after the previous one returned and was checked.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import random
import statistics
import time

import nifi_hive_schema_generator_bundle_spark as engine
from nifi_hive_schema_generator_bundle_spark import catalog
from nifi_hive_schema_generator_bundle_spark.operators import dedup, routing
from nifi_hive_schema_generator_bundle_spark.plans import lattice
from nifi_hive_schema_generator_bundle_spark.plans.render import (
    render_hive_ddl,
    sanitize_identifiers,
)
from nifi_hive_schema_generator_bundle_spark.sources import ndjson
from nifi_hive_schema_generator_bundle_spark.streaming import infer_stream

import gen

# Generator parameters per workload; the seed is the only run-time input.
PARAMS = {
    "batch_register": {
        "records": 40_000, "key_pool": 120, "keys_per_record": 10,
        "depth": 2, "sub_pool": 10, "variants": 32,
        "conflict_share": 0.05, "corrupt_share": 0.02,
    },
    "stream_drift": {
        "files": 12, "records_per_file": 300, "key_pool": 40,
        "keys_per_record": 10, "depth": 2, "sub_pool": 8, "variants": 16,
        "drift_share": 0.75, "corrupt_share": 0.02,
    },
    "near_dedup": {
        "docs": 3_000, "words": 60, "vocab": 5_000, "dup_share": 0.1,
        "edits": 3, "threshold": 0.5,
    },
}


# A planted copy differs from its original in 3 of 60 words (3-shingle
# Jaccard ~0.73), which 16 bands of 4 rows find with probability ~0.995;
# a recall below this floor means the pair search lost quality, and fails
# the op.
MIN_RECALL = 0.95


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    # 'inclusive' interpolates between samples; the default 'exclusive'
    # method extrapolates past the largest one on a short list
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) >= 2 else _median(xs)


def per_op(spans, name, key="dur_s"):
    """Median over traced ops of the per-op sum of ``key`` over spans
    called ``name``."""
    per: dict[int, float] = {}
    for s in spans:
        per.setdefault(s["op"], 0.0)
        if s["name"] == name:
            per[s["op"]] += s[key]
    return _median(list(per.values()))


def _schema_dict(lines) -> dict:
    return lattice.type_to_dict(lattice.schema_from_json_lines(lines))


def _table_columns(spark, table: str) -> set[str]:
    return set(spark.table(table).columns)


class Workload:
    """Shared shape. The constructor generates the inputs (untimed).
    ``span`` opens a named span in traced ops and does nothing otherwise;
    the harness swaps it per op."""

    span = staticmethod(lambda name: contextlib.nullcontext())
    spark = None  # set by the harness once the session is up
    # workloads whose layers a traced run of this one also measures
    companions: tuple = ()

    def close(self):
        pass

    def standalone(self) -> dict:
        return {}

    def run_record(self) -> dict:
        return {}


class BatchRegister(Workload):
    """``catalog.infer_and_register`` over one wide, nested, drifting NDJSON
    corpus with ~2% corrupt lines: per-record work (routing parse, cache
    fill, Python lattice fold) dominates and per-call overhead is small."""

    name = "batch_register"
    table = "pb_batch"

    def __init__(self, seed: int, work: str, out_dir: str):
        self.corpus = os.path.join(work, "corpus")
        self.location = os.path.join(work, "batch_table")
        truth = gen.ndjson_corpus(random.Random(seed), PARAMS[self.name], self.corpus)
        self.good, self.bad = truth["good_count"], truth["bad_count"]
        # reference fold over the valid lines' distinct top-level (key,
        # value) projections; the lattice's key-union rule makes this the
        # fold over the lines themselves
        self.expected = _schema_dict(truth["projections"])
        self.columns = {sanitize_identifiers(k) for k in self.expected}
        self._schema = None
        self._original = catalog.infer_schema_df

        def capture(df, column="value"):
            self._schema = self._original(df, column)
            return self._schema

        # keeps the schema the DDL was rendered from, for the check
        catalog.infer_schema_df = capture

    def close(self):
        catalog.infer_schema_df = self._original

    def op(self, i: int):
        return catalog.infer_and_register(self.spark, self.corpus, self.table, self.location)

    def check(self, res) -> list[str]:
        errs = []
        if (res["good_count"], res["bad_count"]) != (self.good, self.bad):
            errs.append(f"counts {res['good_count']}/{res['bad_count']} != planted {self.good}/{self.bad}")
        if lattice.type_to_dict(self._schema) != self.expected:
            errs.append("inferred schema differs from the reference fold")
        if res["hive_ddl"] != render_hive_ddl(self._schema, self.table, self.location):
            errs.append("hive DDL is not the rendering of the inferred schema")
        cols = _table_columns(self.spark, self.table)
        if cols != self.columns:
            errs.append(f"table columns differ from sanitized keys: {sorted(cols ^ self.columns)[:5]}")
        return errs

    def wrap(self, tracer):
        tracer.wrap(catalog, "infer_and_register", "catalog.infer_and_register")
        tracer.wrap(routing, "split_valid", "routing.split_valid")
        tracer.wrap(catalog, "infer_schema_df", "infer.infer_schema_df")
        tracer.wrap(catalog, "render_hive_ddl", "render.hive_ddl")
        tracer.wrap(catalog, "register_table", "catalog.register_table")

    def standalone(self) -> dict:
        times = []
        for _ in range(3):
            t = time.perf_counter()
            good, _ = routing.split_valid(ndjson.read_ndjson_lines(self.spark, self.corpus))
            good.count()
            times.append(time.perf_counter() - t)
        return {"routing.valid_count_s": _median(times)}

    def layer_metrics(self, spans, untraced_results) -> dict:
        infer_s = per_op(spans, "infer.infer_schema_df")
        return {
            "infer.infer_schema_df_s": infer_s,
            "infer.rows_per_s": self.good / infer_s if infer_s else 0.0,
            "catalog.infer_and_register.self_s": per_op(spans, "catalog.infer_and_register", "self_s"),
            "catalog.register_table_s": per_op(spans, "catalog.register_table"),
            "spark.jobs_per_register": per_op(spans, "catalog.infer_and_register", "total_jobs"),
        }


class StreamDrift(Workload):
    """``run_inference_stream`` draining a backlog of small drifting NDJSON
    files one file per trigger, with a quarantine path and re-registration
    on drift: per-micro-batch jobs, cache/unpersist and offset/commit logs
    dominate, next to quarantine, checkpoint and DDL writes."""

    name = "stream_drift"
    table = "pb_stream"

    def __init__(self, seed: int, work: str, out_dir: str):
        self.work = work
        self.backlog = os.path.join(work, "backlog")
        self.location = os.path.join(work, "stream_table")
        truth = gen.stream_backlog(random.Random(seed), PARAMS[self.name], self.backlog)
        self.good, self.bad_lines = truth["good_count"], sorted(truth["bad"])
        self.drift_events = truth["drift_events"]
        self.expected = _schema_dict(truth["projections"])
        self.files = PARAMS[self.name]["files"]
        self.drift_ddls = 0

    def _register(self, ddl, schema):
        catalog.register_table(self.spark, schema, self.table, self.location)

    def op(self, i: int):
        q, state = infer_stream.run_inference_stream(
            self.spark, self.backlog, self.table, self.location,
            checkpoint_dir=os.path.join(self.work, "checkpoints", str(i)),
            quarantine_path=os.path.join(self.work, "quarantine", str(i)),
            on_drift=self._register,
            available_now=True,
            max_files_per_trigger=1,
        )
        with self.span("force.await_termination"):
            q.awaitTermination()
        return {"query": q, "state": state, "quarantine": os.path.join(self.work, "quarantine", str(i)),
                "progress": list(q.recentProgress)}

    def check(self, res) -> list[str]:
        errs = []
        q, state = res["query"], res["state"]
        if q.exception() is not None:
            errs.append(f"stream failed: {q.exception()}")
        if lattice.type_to_dict(state.schema) != self.expected:
            errs.append("accumulated schema differs from the batch fold")
        if (state.good_rows, state.bad_rows) != (self.good, len(self.bad_lines)):
            errs.append(f"rows {state.good_rows}/{state.bad_rows} != planted {self.good}/{len(self.bad_lines)}")
        quarantined = []
        for path in glob.glob(os.path.join(res["quarantine"], "part-*")):
            with open(path, encoding="utf-8") as f:
                quarantined.extend(f.read().splitlines())
        if sorted(quarantined) != self.bad_lines:
            errs.append(f"quarantine holds {len(quarantined)} lines, not the {len(self.bad_lines)} bad ones")
        self.drift_ddls = len(state.ddl_history)
        if self.drift_ddls != self.drift_events:
            errs.append(f"{self.drift_ddls} drift DDLs != {self.drift_events} planted drift events")
        if len(res["progress"]) != self.files:
            errs.append(f"{len(res['progress'])} triggers for {self.files} files")
        keys = {sanitize_identifiers(k) for k in self.expected}
        if _table_columns(self.spark, self.table) != keys:
            errs.append("registered columns differ from the sanitized keys")
        return errs

    def wrap(self, tracer):
        tracer.wrap(infer_stream, "run_inference_stream", "streaming.run_inference_stream")
        tracer.wrap(infer_stream.InferenceState, "process_batch", "stream.process_batch")
        tracer.wrap(infer_stream, "split_valid", "routing.split_valid")
        tracer.wrap(infer_stream, "infer_schema_df", "infer.infer_schema_df")
        tracer.wrap(infer_stream, "render_hive_ddl", "render.hive_ddl")
        tracer.wrap(infer_stream, "render_alter_ddl", "render.alter_ddl")
        tracer.wrap(catalog, "register_table", "catalog.register_table")

    def layer_metrics(self, spans, untraced_results) -> dict:
        trig, overhead, wal = [], [], []
        for res in untraced_results:
            for p in res["progress"]:
                d = p.durationMs
                trig.append(d["triggerExecution"])
                overhead.append(d["triggerExecution"] - d.get("addBatch", 0))
                wal.append(d.get("walCommit", 0))
        batches = [s for s in spans if s["name"] == "stream.process_batch"]
        infer_s = per_op(spans, "infer.infer_schema_df")
        return {
            "stream.batch_ms_p50": _median(trig),
            "stream.batch_ms_p90": _p90(trig),
            "stream.process_batch_ms_p50": 1000 * _median([s["dur_s"] for s in batches]),
            "stream.engine_overhead_ms_p50": _median(overhead),
            "stream.wal_commit_ms_p50": _median(wal),
            "stream.jobs_per_batch": _median([s["total_jobs"] for s in batches]),
            "stream.drift_ddls": self.drift_ddls,
            "infer.infer_schema_df_s": infer_s,
            "infer.rows_per_s": self.good / infer_s if infer_s else 0.0,
            "catalog.register_table_s": per_op(spans, "catalog.register_table"),
        }


class NearDedup(Workload):
    """``minhash_lsh_pairs`` then ``connected_components`` over documents
    with planted near-duplicates: the shuffle-heavy JVM path, which uses no
    routing or lattice code."""

    name = "near_dedup"

    def __init__(self, seed: int, work: str, out_dir: str):
        self.docs_dir = os.path.join(work, "docs")
        p = PARAMS[self.name]
        self.threshold = p["threshold"]
        self.planted = gen.documents(random.Random(seed), p, self.docs_dir)["planted_pairs"]
        # pair-set digest of an earlier run with the same seed, sizes,
        # generator and package source
        key = hashlib.sha256(repr(sorted(p.items())).encode())
        pkg = os.path.dirname(engine.__file__)
        for path in [gen.__file__, *sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True))]:
            with open(path, "rb") as f:
                key.update(f.read())
        self.digest_file = os.path.join(
            out_dir, f"near_dedup-pairs-{seed}-{key.hexdigest()[:16]}.sha256"
        )
        self.digest = None
        if os.path.exists(self.digest_file):
            with open(self.digest_file, encoding="utf-8") as f:
                self.digest = f.read().strip()
        self.n_pairs = 0
        self.recall = 0.0

    def _docs(self):
        return ndjson.read_ndjson(self.spark, self.docs_dir, schema="doc_id long, text string")

    def op(self, i: int):
        pairs = dedup.minhash_lsh_pairs(
            self._docs(), "text", "doc_id", threshold=self.threshold
        ).persist()
        with self.span("force.pairs"):
            n_pairs = pairs.count()
        comps = dedup.connected_components(pairs)
        with self.span("force.components"):
            n_labels = comps.count()
        return {"pairs": pairs, "n_pairs": n_pairs, "comps": comps, "n_labels": n_labels}

    def check(self, res) -> list[str]:
        errs = []
        pairs = res["pairs"].collect()
        labels = dict(res["comps"].collect())
        res["pairs"].unpersist()
        if len(pairs) != res["n_pairs"]:
            errs.append("pair count changed between count and collect")
        if any(r.id_a >= r.id_b for r in pairs):
            errs.append("a pair has id_a >= id_b")
        if any(r.est_jaccard < self.threshold for r in pairs):
            errs.append("a pair is below the threshold")
        if any(r.id_a not in labels or labels[r.id_a] != labels.get(r.id_b) for r in pairs):
            errs.append("a pair spans two components")
        if res["n_labels"] != len({x for r in pairs for x in (r.id_a, r.id_b)}):
            errs.append("components do not label exactly the paired ids")
        found = {(r.id_a, r.id_b) for r in pairs}
        digest = hashlib.sha256(repr(sorted(pairs)).encode()).hexdigest()
        if self.digest is None:
            with open(self.digest_file, "w", encoding="utf-8") as f:
                f.write(digest)
        elif digest != self.digest:
            errs.append("pairs differ from an earlier run of the same seed")
        self.digest = digest
        self.n_pairs = len(pairs)
        self.recall = len(found & self.planted) / len(self.planted)
        if self.recall < MIN_RECALL:
            errs.append(f"planted-pair recall {self.recall:.4f} < {MIN_RECALL}")
        return errs

    def wrap(self, tracer):
        tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
        tracer.wrap(dedup, "minhash_signatures", "dedup.minhash_signatures")
        tracer.wrap(dedup, "connected_components", "dedup.connected_components")

    def standalone(self) -> dict:
        times = []
        for _ in range(3):
            # nothing cached may stand in for the signature pass
            self.spark.catalog.clearCache()
            t = time.perf_counter()
            sig = dedup.minhash_signatures(self._docs(), "text", "doc_id")
            sig.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return {"dedup.minhash_signatures_s": _median(times)}

    def layer_metrics(self, spans, untraced_results) -> dict:
        return {
            "dedup.lsh_pairs_s": per_op(spans, "dedup.minhash_lsh_pairs") + per_op(spans, "force.pairs"),
            "dedup.connected_components_s": per_op(spans, "dedup.connected_components")
            + per_op(spans, "force.components"),
            "dedup.pairs": self.n_pairs,
            "dedup.pair_recall": self.recall,
            "dedup.shuffle_write_mb": per_op(spans, "op", "total_shuffle_write_bytes") / 2**20,
        }

    def run_record(self) -> dict:
        return {"pairs_sha256": self.digest, "planted_pairs": len(self.planted)}


# stream_drift stays runnable but BENCHMARK.json does not schedule it: a
# run's fixed cost (JVM start, cold first drain) is ~30 s on 4 cores, too
# much for a third workload in the run budget. Its layers and checks run in
# every traced batch_register run instead.
BatchRegister.companions = (StreamDrift,)
WORKLOADS = {w.name: w for w in (BatchRegister, StreamDrift, NearDedup)}
