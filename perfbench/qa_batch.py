"""qa_batch: batch evaluation over seeded long filings.

One iteration is what the CLI does for a QA set: ``run_mapreduce`` with
``persist_llm_outputs=True``, answers written with ``save_results`` and
judgments written in full. Nothing is timed with ``count()``.

The traced run calls the stages one at a time, each persisted and
materialized before the next, so each stage's self time and Spark
metrics can be attributed to it. It then serves a few single questions
through ``serve.answer_single`` to measure the serving layer, and
checks each served answer against the batch answer for the same
(filing, question).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq

from common import Meter, check, median
from llmcount import CountingFactory, delta
from spans import group_metrics

WARMUP_ITERS = 2
INPUTS = ("qa",)
EXPECTED_ERRORS = ("no chunks passed the relevance filter",)
SERVE_REQUESTS = 3


class Workload:
    def __init__(self, spark, inputs: str, manifest: dict, work: str, tracer):
        from finmapreduce_spark.plans.mapreduce import MapReduceConfig

        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.counter = CountingFactory(spark.sparkContext)
        self.cfg = MapReduceConfig(
            persist_llm_outputs=True, client_factory=self.counter
        )
        self.qa = spark.read.parquet(os.path.join(inputs, "questions.parquet"))
        self.docs = spark.read.parquet(os.path.join(inputs, "docs.parquet"))
        qa_rows = pq.read_table(os.path.join(inputs, "questions.parquet")).to_pylist()
        self.questions = {r["qa_id"]: r for r in qa_rows}
        self.missing = {
            r["qa_id"] for r in qa_rows if r["doc_id"].startswith("MISSING_")
        }
        self.n_items = len(qa_rows)
        self.digest = None
        self.n_chunks = None
        self.batch_answers: dict = {}

    # --- one iteration ---------------------------------------------------

    def iteration(self, n: int) -> dict:
        from finmapreduce_spark.plans.mapreduce import run_mapreduce
        from finmapreduce_spark.sources.sinks import save_results

        res_root = os.path.join(self.work, "results")
        judg_dir = os.path.join(self.work, f"judgments_{n:03d}")
        before = self.counter.snapshot()
        with Meter() as m, self.tracer.span("qa_batch.iteration", request_id=f"it{n}"):
            stages = run_mapreduce(self.qa, self.docs, self.cfg)
            out_dir = save_results(stages["answers"], res_root, run_ts=f"it{n:03d}")
            stages["judgments"].write.mode("overwrite").parquet(judg_dir)
            stages["mapped"].unpersist()
            stages["reduced"].unpersist()
        llm = delta(self.counter.snapshot(), before)
        if self.n_chunks is None:
            self.n_chunks = stages["chunks"].count()
            check(self.n_chunks > 0, "qa_batch: no chunks")
        failed = self.check_outputs(out_dir, judg_dir, llm)
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(judg_dir, ignore_errors=True)
        return {**m.as_dict(), "items": self.n_items, "failed": failed, "llm": llm}

    # --- output checks -----------------------------------------------------

    def _read_answers(self, out_dir: str) -> dict:
        rows = {}
        for p in sorted(glob.glob(os.path.join(out_dir, "part-*.json"))):
            with open(p) as f:
                for line in f:
                    r = json.loads(line)
                    check(r["qa_id"] not in rows, f"qa_batch: two answer rows for qa_id {r['qa_id']}")
                    rows[r["qa_id"]] = r
        return rows

    def check_outputs(self, out_dir: str, judg_dir: str, llm: dict) -> int:
        answers = self._read_answers(out_dir)
        check(set(answers) == set(self.questions),
              f"qa_batch: {len(answers)} answer rows for {len(self.questions)} questions")
        judg = pq.read_table(judg_dir).to_pylist()
        jmap = {}
        for r in judg:
            check(r["qa_id"] not in jmap, f"qa_batch: two judgments for qa_id {r['qa_id']}")
            jmap[r["qa_id"]] = r["judgment"]
        check(set(jmap) == set(self.questions),
              f"qa_batch: {len(jmap)} judgment rows for {len(self.questions)} questions")
        failed = 0
        for qid, r in answers.items():
            if qid in self.missing:
                check(r.get("error") == "document not found",
                      f"qa_batch: missing filing {qid} answered with error {r.get('error')!r}")
                continue
            err = r.get("error")
            if (err is not None and err not in EXPECTED_ERRORS) or jmap[qid] == "Error":
                failed += 1
        check(llm["map_calls"] == self.n_chunks,
              f"qa_batch: {llm['map_calls']} map calls for {self.n_chunks} chunks")
        h = hashlib.sha256()
        for qid in sorted(answers):
            r = answers[qid]
            h.update(json.dumps(
                [qid, r.get("llm_answer"), r.get("error"), r.get("n_kept"), jmap[qid]]
            ).encode())
        digest = h.hexdigest()
        if self.digest is None:
            self.digest = digest
            self.batch_answers = {
                (self.questions[q]["doc_id"], self.questions[q]["question"]): r.get("llm_answer")
                for q, r in answers.items() if q not in self.missing
            }
        check(digest == self.digest, "qa_batch: result digest changed between iterations")
        return failed + sum(llm[f"{k}_failures"] for k in ("map", "reduce", "judge"))

    # --- traced run ------------------------------------------------------------

    def traced(self) -> dict:
        """Stage-by-stage iteration plus a few served questions; returns
        the per-layer metrics of this workload."""
        from finmapreduce_spark.plans import mapreduce as M
        from finmapreduce_spark.serve import answer_single
        from finmapreduce_spark.sources.sinks import save_results

        tr, cfg = self.tracer, self.cfg
        res_root = os.path.join(self.work, "results")
        judg_dir = os.path.join(self.work, "judgments_traced")
        before = self.counter.snapshot()
        held = []

        def stage(name, build):
            with tr.span(name) as sp:
                df = build().persist()
                held.append(df)
                rows = df.count()
            sp["rows"] = rows
            return df, sp

        with Meter() as m, tr.span("qa_batch.traced_iteration"):
            qa_docs, s_join = stage("join_documents", lambda: M.join_documents(self.qa, self.docs))
            chunks, s_chunk = stage("chunk_stage", lambda: M.chunk_stage(qa_docs, cfg))
            mapped, s_map = stage("map_stage", lambda: M.map_stage(chunks, cfg))
            kept, s_filter = stage("filter_stage", lambda: M.filter_stage(mapped, cfg))
            reduced, s_reduce = stage("reduce_stage", lambda: M.reduce_stage(kept, self.qa, cfg))
            answers, s_ans = stage(
                "answers_with_errors",
                lambda: M.answers_with_errors(self.qa, qa_docs, reduced, mapped),
            )
            judgments, s_judge = stage("judge_stage", lambda: M.judge_stage(answers, cfg))
            with tr.span("save_results") as s_save:
                out_dir = save_results(answers, res_root, run_ts="traced")
                judgments.write.mode("overwrite").parquet(judg_dir)
        llm = delta(self.counter.snapshot(), before)
        chars = sum(
            len(t) for t in qa_docs.filter("doc_error is null").select("text").toPandas()["text"]
        )
        self.check_outputs(out_dir, judg_dir, llm)
        from common import dir_size

        results_bytes = dir_size(out_dir)[0] + dir_size(judg_dir)[0]
        for df in held:
            df.unpersist()
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(judg_dir, ignore_errors=True)

        # a few single questions through the serving API
        serve_spans = []
        files = sorted(
            glob.glob(os.path.join(self.inputs, "filings", "*.md")), key=os.path.getsize
        )
        picks = [files[0], files[len(files) // 2], files[-1]][:SERVE_REQUESTS]
        for i, path in enumerate(picks):
            doc_id = os.path.basename(path)[:-3]
            question = next(
                q["question"] for q in self.questions.values() if q["doc_id"] == doc_id
            )
            with tr.span("serve.answer_single", request_id=f"req{i}") as sp:
                resp = answer_single(self.spark, path, question, cfg=cfg)
            check(resp["answer"] == self.batch_answers[(doc_id, question)],
                  f"qa_batch: served answer for {doc_id} differs from the batch answer")
            serve_spans.append(sp)

        jobs = tr.jobs()

        def gm(sp):
            return group_metrics(tr, jobs, {sp["id"]})

        def wall(sp):
            return sp["end"] - sp["start"]

        per = {name: gm(sp) for name, sp in (
            ("join", s_join), ("chunk", s_chunk), ("map", s_map), ("filter", s_filter),
            ("reduce", s_reduce), ("answers", s_ans), ("judge", s_judge), ("save", s_save),
        )}
        whole = group_metrics(tr, jobs, {
            sp["id"] for sp in (s_join, s_chunk, s_map, s_filter, s_reduce, s_ans, s_judge, s_save)
        })
        red_stages = per["reduce"]["stage_records"]
        gather_s = sum(
            _stage_s(st) for st in red_stages if st.get("shuffleWriteBytes", 0) > 0
        )
        gather_skew = max(
            (tr.task_skew(st) for st in red_stages
             if st.get("shuffleReadBytes", 0) > 0 and st.get("numTasks", 0) > 1),
            default=1.0,
        )
        llm_jobs = per["map"]["job_ids"] | per["reduce"]["job_ids"] | per["judge"]["job_ids"]
        to_py, from_py = tr.sql_python_bytes(llm_jobs)
        serve = [gm(sp) for sp in serve_spans]
        n_q = self.n_items
        self.traced_iteration = m.as_dict()
        return {
            "sources.results_write_s": wall(s_save),
            "sources.results_bytes": results_bytes,
            "functions.chunk_s": wall(s_chunk),
            "functions.chars_chunked_per_s": chars / wall(s_chunk),
            "functions.chunks_per_question": s_chunk["rows"] / n_q,
            "llm.map_calls": llm["map_calls"],
            "llm.reduce_calls": llm["reduce_calls"],
            "llm.judge_calls": llm["judge_calls"],
            "llm.input_tokens": sum(llm[f"{k}_input_tokens"] for k in ("map", "reduce", "judge")),
            "llm.output_tokens": sum(llm[f"{k}_output_tokens"] for k in ("map", "reduce", "judge")),
            "llm.attempts": sum(llm[f"{k}_attempts"] for k in ("map", "reduce", "judge")),
            "llm.retries": sum(
                llm[f"{k}_attempts"] - llm[f"{k}_calls"] for k in ("map", "reduce", "judge")
            ),
            "llm.failures": sum(llm[f"{k}_failures"] for k in ("map", "reduce", "judge")),
            "llm.map_s": wall(s_map),
            "llm.reduce_s": max(0.0, wall(s_reduce) - gather_s),
            "llm.judge_s": wall(s_judge),
            "llm.arrow_bytes_to_python": to_py,
            "llm.arrow_bytes_from_python": from_py,
            "plans.join_s": wall(s_join),
            "plans.filter_s": wall(s_filter),
            "plans.gather_s": gather_s,
            "plans.kept_ratio": s_filter["rows"] / max(1, llm["map_calls"]),
            "plans.shuffle_write_mb": whole["shuffle_write_mb"],
            "plans.shuffle_read_mb": whole["shuffle_read_mb"],
            "plans.spill_mb": whole["spill_mb"],
            "plans.gather_task_skew": gather_skew,
            "serve.jobs_per_request": median([s["jobs"] for s in serve]),
            "serve.stages_per_request": median([s["stages"] for s in serve]),
            "serve.tasks_per_request": median([s["tasks"] for s in serve]),
            "serve.job_s_per_request": median([s["job_s"] for s in serve]),
            "serve.driver_s_per_request": median(
                [wall(sp) - s["job_s"] for sp, s in zip(serve_spans, serve)]
            ),
            "serve.request_s": median([wall(sp) for sp in serve_spans]),
        }


def _stage_s(st: dict) -> float:
    from spans import rest_time

    if st.get("submissionTime") and st.get("completionTime"):
        return rest_time(st["completionTime"]) - rest_time(st["submissionTime"])
    return 0.0


def named_metrics(iters: list[dict]) -> dict:
    """This workload's own metrics (reported, not gated), from the timed iterations."""
    wall = sum(i["wall_s"] for i in iters)
    items = sum(i["items"] for i in iters)
    llm = iters[0]["llm"]
    calls = sum(llm[f"{k}_calls"] for k in ("map", "reduce", "judge"))
    tokens = sum(
        llm[f"{k}_{t}_tokens"] for k in ("map", "reduce", "judge") for t in ("input", "output")
    )
    return {
        "questions_per_s": {"value": items / wall, "unit": "q/s"},
        "llm_calls_per_question": {"value": calls / iters[0]["items"], "unit": "calls"},
        "llm_tokens_per_question": {"value": tokens / iters[0]["items"], "unit": "tokens"},
        "failed_ratio": {"value": sum(i["failed"] for i in iters) / items, "unit": "ratio"},
    }

