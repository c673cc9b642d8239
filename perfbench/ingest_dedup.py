"""ingest_dedup: the live MinHash store over a seeded landing directory.

One iteration runs ``serve_incremental_dedup_continuous`` with
``availableNow`` over the landing files, one file per micro-batch
(epoch), starting from a fresh store, verdict directory and
checkpoint. Later files carry exact and near duplicates of earlier
ones, so every epoch reads a store that keeps growing and appends to it.

Timed: query start to termination. Each epoch's ``triggerExecution``
comes from ``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pyarrow.parquet as pq

from common import Meter, check, dir_size, median
from spans import jobs_metrics, rest_time, stream_batch_jobs

WARMUP_ITERS = 2
INPUTS = ("landing",)


class Workload:
    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        self.spark = spark
        self.inputs = inputs
        self.manifest = manifest["landing"]
        self.work = work
        self.tracer = tracer
        self.landing = os.path.join(inputs, "landing")
        self.n_items = self.manifest["docs"]
        self.verdicts = None
        self.last: dict = {}

    def _dirs(self):
        return {k: os.path.join(self.work, k) for k in ("store", "verdicts", "ckpt")}

    def iteration(self, n: int) -> dict:
        from finmapreduce_spark.streaming.pipeline import (
            serve_incremental_dedup_continuous,
        )

        d = self._dirs()
        for p in d.values():
            shutil.rmtree(p, ignore_errors=True)
        stream = (
            self.spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(self.landing)
        )
        writer = serve_incremental_dedup_continuous(
            stream, d["store"], d["verdicts"], d["ckpt"]
        )
        with Meter() as m, self.tracer.span("ingest_dedup.iteration", request_id=f"it{n}") as sp:
            q = writer.start()
            q.awaitTermination()
        check(q.exception() is None, f"ingest_dedup: query failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        epochs = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        sp["run_id"] = str(q.runId)
        failed = self.check_outputs(d, len(progress))
        return {
            **m.as_dict(),
            "items": self.n_items,
            "failed": failed,
            "epochs_s": epochs,
            "progress": progress,
            "run_id": str(q.runId),
        }

    def check_outputs(self, d: dict, n_epochs: int) -> int:
        check(n_epochs == self.manifest["epochs"],
              f"ingest_dedup: {n_epochs} epochs for {self.manifest['epochs']} landing files")
        rejected = set()
        for p in glob.glob(os.path.join(d["verdicts"], "epoch_id=*", "part-*.json")):
            with open(p) as f:
                rejected.update(json.loads(line)["doc_id"] for line in f)
        store = pq.read_table(d["store"], columns=["doc_id", "epoch_id"]).to_pydict()
        admitted = set(store["doc_id"])
        check(not (admitted & rejected), "ingest_dedup: a doc is both admitted and rejected")
        check(len(admitted) + len(rejected) == self.n_items,
              f"ingest_dedup: admitted {len(admitted)} + rejected {len(rejected)} "
              f"!= landed {self.n_items}")
        missed = set(self.manifest["exact_dup_ids"]) - rejected
        check(not missed, f"ingest_dedup: exact duplicates admitted: {sorted(missed)[:5]}")
        if self.verdicts is None:
            self.verdicts = rejected
        check(rejected == self.verdicts, "ingest_dedup: verdicts changed between iterations")
        per_epoch = {}
        for e in store["epoch_id"]:
            per_epoch[e] = per_epoch.get(e, 0) + 1
        rows_before = [sum(v for k, v in per_epoch.items() if k < e) for e in range(n_epochs)]
        self.last = {
            "admitted": len(admitted),
            "rejected": len(rejected),
            "store": dir_size(d["store"]),
            "store_rows_read_per_epoch": sum(rows_before) / max(1, n_epochs),
        }
        return 0

    def traced(self) -> dict:
        """One more iteration; its epochs become spans under it."""
        it = self.iteration(10_000)
        self.traced_iteration = {k: it[k] for k in ("wall_s", "cpu_s", "steal_s")}
        sp = self.tracer.spans[-1]
        jobs = self.tracer.jobs()
        by_batch = stream_batch_jobs(jobs, it["run_id"])
        for p in it["progress"]:
            start = rest_time(p["timestamp"].replace("Z", "GMT"))
            self.tracer.spans.append({
                "id": f"{sp['id']}.b{p['batchId']}",
                "name": "ingest_dedup.epoch",
                "parent": sp["id"],
                "request_id": sp["request_id"],
                "batch_id": p["batchId"],
                "start": start,
                "end": start + p["durationMs"]["triggerExecution"] / 1000,
            })
        whole = jobs_metrics(self.tracer, [j for js in by_batch.values() for j in js])
        dur = [p["durationMs"] for p in it["progress"]]
        return {
            "sources.store_bytes_after_epoch": self.last["store"][0],
            "sources.store_files_after_epoch": self.last["store"][1],
            "dedup.jobs": whole["jobs"],
            "dedup.stages": whole["stages"],
            "dedup.shuffle_write_mb": whole["shuffle_write_mb"],
            "dedup.shuffle_read_mb": whole["shuffle_read_mb"],
            "dedup.spill_mb": whole["spill_mb"],
            "dedup.max_task_skew": whole["max_task_skew"],
            "dedup.survivors": self.last["admitted"],
            "streaming.epochs": len(dur),
            "streaming.add_batch_s": median([x.get("addBatch", 0) / 1000 for x in dur]),
            "streaming.planning_s": median([
                (x.get("getBatch", 0) + x.get("queryPlanning", 0) + x.get("walCommit", 0)) / 1000
                for x in dur
            ]),
            "streaming.store_rows_read_per_epoch": self.last["store_rows_read_per_epoch"],
            "streaming.admitted": self.last["admitted"],
            "streaming.rejected": self.last["rejected"],
        }


def named_metrics(iters: list[dict]) -> dict:
    from common import tail

    wall = sum(i["wall_s"] for i in iters)
    epochs = [e for i in iters for e in i["epochs_s"]]
    t, which = tail(epochs)
    return {
        "ingest_docs_per_s": {"value": sum(i["items"] for i in iters) / wall, "unit": "docs/s"},
        "epoch_p50_s": {"value": median(epochs), "unit": "s"},
        "epoch_tail_s": {"value": t, "unit": "s", "percentile": which, "samples": len(epochs)},
        "failed_ratio": {
            "value": sum(i["failed"] for i in iters) / sum(i["items"] for i in iters),
            "unit": "ratio",
        },
    }
