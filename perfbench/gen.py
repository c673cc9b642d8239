"""Seeded input generator for the benchmark: one process, pyarrow only,
no Spark.

    python3 perfbench/gen.py --seed 7 --out perfbench/out/inputs-7 [--what qa,dedup,landing]

Everything is a pure function of the seed. The *shape* of each input
(filing sizes, questions per filing, duplicate shares, docs per epoch)
is a fixed ladder; the seed only permutes it and draws the words. So
two seeds give different bytes but the same amount of work, which is
what lets the run-to-run spread of a timing reflect the engine rather
than the input.

Outputs under ``--out``:

  filings/<doc_id>.md        one long markdown filing per doc_id
  docs.parquet               the same filings as (doc_id, text)
  questions.parquet          (qa_id, doc_id, question, answer)
  corpus/documents.parquet   dedup corpus (doc_id, text, lang, source, n_chars)
  corpus/embeddings.parquet  (vec_id, embedding, label), shape of the sf tables
  landing/epoch-NNN.jsonl    ingest files, one per epoch, {"doc_id", "text"}
  manifest.json              the properties each workload depends on
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --- QA inputs -------------------------------------------------------------

N_FILINGS = 24
MAX_CHUNKS = 100  # the longest filing is about this many default chunks
CHARS_PER_CHUNK = 760  # measured: default BPE chunks (512/64) on this text
N_MISSING_QUESTIONS = 3  # questions whose filing is absent on purpose
# questions per filing by size rank (shared documents: the J1 skew)
QUESTIONS_BY_RANK = (4, 2, 3, 1, 3, 2)

_FIN_WORDS = (
    "revenue net income operating margin fiscal quarter segment cash flow "
    "liabilities assets equity dividend guidance impairment goodwill "
    "amortization depreciation inventory receivables backlog capital "
    "expenditure restructuring litigation covenant debt maturity share "
    "repurchase tax rate foreign currency hedging pension obligation lease "
    "subsidiary acquisition divestiture risk factor compliance audit "
    "the of and in to for a on with by from as is was were increased "
    "decreased compared prior year period primarily due higher lower"
).split()
_METRICS = (
    "total revenue", "net income", "operating margin", "free cash flow",
    "capital expenditure", "effective tax rate", "long-term debt",
    "goodwill impairment", "dividends per share", "inventory turnover",
)
_SECTIONS = (
    "Business", "Risk Factors", "Legal Proceedings", "Market Risk",
    "Management's Discussion and Analysis", "Financial Statements",
    "Controls and Procedures", "Executive Compensation",
)


def chunk_ladder(n: int = N_FILINGS, top: int = MAX_CHUNKS) -> list[int]:
    """Heavy-tailed filing sizes in chunks, 1 .. ``top``: most filings
    are short, a few are very long (the quantiles of top**(q**2))."""
    return [max(1, round(top ** (((i + 0.5) / n) ** 2))) for i in range(n)]


def _filing_text(rng: random.Random, doc_id: str, n_chars: int) -> str:
    parts = [f"# {doc_id} Annual Report (Form 10-K)\n"]
    size = len(parts[0])
    while size < n_chars:
        if rng.random() < 0.08:
            line = f"\n## Item {rng.randint(1, 15)}. {rng.choice(_SECTIONS)}\n"
        else:
            words = rng.choices(_FIN_WORDS, k=rng.randint(8, 24))
            if rng.random() < 0.5:
                words.insert(
                    rng.randrange(len(words)),
                    f"${rng.randint(1, 999)}.{rng.randint(0, 9)} million",
                )
            line = " ".join(words).capitalize() + ". "
        parts.append(line)
        size += len(line)
    return "".join(parts)[:n_chars]


def qa_inputs(seed: int) -> dict:
    rng = random.Random(f"qa-{seed}")
    ladder = chunk_ladder()
    # seed decides which filing name gets which size; the size→questions
    # pairing is by rank, so total map work is seed-independent
    names = [f"FILING_{seed % 1000:03d}_{i:02d}" for i in range(N_FILINGS)]
    rng.shuffle(names)
    docs, questions = [], []
    for rank, (doc_id, n_chunks) in enumerate(zip(names, ladder)):
        docs.append((doc_id, _filing_text(rng, doc_id, n_chunks * CHARS_PER_CHUNK)))
        for _ in range(QUESTIONS_BY_RANK[rank % len(QUESTIONS_BY_RANK)]):
            metric = rng.choice(_METRICS)
            year = rng.randint(2015, 2024)
            questions.append(
                (doc_id, f"What was the {metric} reported for fiscal {year}?",
                 f"${rng.randint(1, 999)}.{rng.randint(0, 9)} million")
            )
    for i in range(N_MISSING_QUESTIONS):
        questions.append(
            (f"MISSING_{seed % 1000:03d}_{i}", "What was the total revenue?", "unknown")
        )
    rng.shuffle(questions)
    docs.sort()
    q_per_doc = {}
    for d, _, _ in questions:
        q_per_doc[d] = q_per_doc.get(d, 0) + 1
    return {
        "docs": docs,
        "questions": [(i, d, q, a) for i, (d, q, a) in enumerate(questions)],
        "manifest": {
            "filings": N_FILINGS,
            "questions": len(questions),
            "missing_filing_questions": N_MISSING_QUESTIONS,
            "missing_share": N_MISSING_QUESTIONS / len(questions),
            "filing_chars": sorted(len(t) for _, t in docs),
            "target_chunks_ladder": ladder,
            "questions_per_filing_hist": _hist(
                v for d, v in q_per_doc.items() if not d.startswith("MISSING_")
            ),
            "target_chunks_per_question": sum(
                n * QUESTIONS_BY_RANK[r % len(QUESTIONS_BY_RANK)]
                for r, n in enumerate(ladder)
            ) / len(questions),
        },
    }


# --- dedup corpus (shape of the sf `documents` / `embeddings` tables) -------

N_CORPUS = 600
EXACT_DUP_SHARE = 0.04
NEAR_DUP_SHARE = 0.08
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
_CORPUS_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _near_copy(rng: random.Random, text: str, edits: int) -> str:
    words = text.split()
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(_CORPUS_WORDS)
    return " ".join(words)


def _corpus_docs(rng, n, exact_share, near_share, first_id=0):
    """n docs; the last shares of them are exact and near copies of
    earlier docs. Returns [(doc_id, text)] and the injected id lists."""
    n_exact = round(n * exact_share)
    n_near = round(n * near_share)
    n_base = n - n_exact - n_near
    docs = []
    for i in range(n_base):
        words = rng.choices(_CORPUS_WORDS, k=rng.randint(30, 100))
        docs.append((first_id + i, " ".join(words)))
    exact_ids, near_ids = [], []
    for j in range(n_exact):
        src = docs[rng.randrange(n_base)]
        exact_ids.append(first_id + n_base + j)
        docs.append((exact_ids[-1], src[1]))
    for j in range(n_near):
        src = docs[rng.randrange(n_base)]
        near_ids.append(first_id + n_base + n_exact + j)
        docs.append((near_ids[-1], _near_copy(rng, src[1], 1)))
    return docs, exact_ids, near_ids


def corpus_inputs(seed: int) -> dict:
    rng = random.Random(f"corpus-{seed}")
    docs, exact_ids, near_ids = _corpus_docs(
        rng, N_CORPUS, EXACT_DUP_SHARE, NEAR_DUP_SHARE
    )
    rows = [
        (doc_id, text, _LANGS[rng.randrange(len(_LANGS))], f"src{doc_id % 5}", len(text))
        for doc_id, text in docs
    ]
    emb = []
    for i in range(N_CORPUS // 4):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        emb.append((i, [x / norm for x in v], rng.randrange(4)))
    return {
        "rows": rows,
        "embeddings": emb,
        "manifest": {
            "docs": N_CORPUS,
            "exact_dup_share": len(exact_ids) / N_CORPUS,
            "near_dup_share": len(near_ids) / N_CORPUS,
            "exact_dup_ids": exact_ids,
            "near_dup_ids": near_ids,
        },
    }


# --- ingest landing files --------------------------------------------------

N_EPOCHS = 4
DOCS_PER_EPOCH = 50
LANDING_EXACT_SHARE = 0.1  # of each later epoch: exact copies of earlier docs
LANDING_NEAR_SHARE = 0.15  # of each later epoch: near copies of earlier docs
LANDING_MTIME0 = 1_700_000_000


def landing_inputs(seed: int) -> dict:
    rng = random.Random(f"landing-{seed}")
    epochs, exact_ids, near_ids = [], [], []
    earlier: list[str] = []
    next_id = 0
    for e in range(N_EPOCHS):
        n_exact = round(DOCS_PER_EPOCH * LANDING_EXACT_SHARE) if e else 0
        n_near = round(DOCS_PER_EPOCH * LANDING_NEAR_SHARE) if e else 0
        rows = []
        for _ in range(DOCS_PER_EPOCH - n_exact - n_near):
            rows.append(
                (next_id, " ".join(rng.choices(_CORPUS_WORDS, k=rng.randint(30, 100))))
            )
            next_id += 1
        for _ in range(n_exact):
            exact_ids.append(next_id)
            rows.append((next_id, rng.choice(earlier)))
            next_id += 1
        for _ in range(n_near):
            near_ids.append(next_id)
            rows.append((next_id, _near_copy(rng, rng.choice(earlier), 1)))
            next_id += 1
        rng.shuffle(rows)
        earlier.extend(t for _, t in rows)
        epochs.append(rows)
    return {
        "epochs": epochs,
        "manifest": {
            "epochs": N_EPOCHS,
            "docs_per_epoch": [len(r) for r in epochs],
            "docs": next_id,
            "exact_dup_ids": exact_ids,
            "near_dup_ids": near_ids,
        },
    }


# --- writer ----------------------------------------------------------------


def _hist(values) -> dict:
    out: dict = {}
    for v in values:
        out[str(v)] = out.get(str(v), 0) + 1
    return dict(sorted(out.items(), key=lambda kv: int(kv[0])))


def generate(seed: int, out: str, what=("qa", "dedup", "landing")) -> dict:
    os.makedirs(out, exist_ok=True)
    manifest: dict = {"seed": seed}
    if "qa" in what:
        qa = qa_inputs(seed)
        os.makedirs(os.path.join(out, "filings"), exist_ok=True)
        for doc_id, text in qa["docs"]:
            with open(os.path.join(out, "filings", f"{doc_id}.md"), "w") as f:
                f.write(text)
        pq.write_table(
            pa.table({
                "doc_id": [d for d, _ in qa["docs"]],
                "text": [t for _, t in qa["docs"]],
            }),
            os.path.join(out, "docs.parquet"),
        )
        cols = list(zip(*qa["questions"]))
        pq.write_table(
            pa.table({
                "qa_id": pa.array(cols[0], pa.int64()),
                "doc_id": pa.array(cols[1], pa.string()),
                "question": pa.array(cols[2], pa.string()),
                "answer": pa.array(cols[3], pa.string()),
            }),
            os.path.join(out, "questions.parquet"),
        )
        manifest["qa"] = qa["manifest"]
    if "dedup" in what:
        c = corpus_inputs(seed)
        os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
        cols = list(zip(*c["rows"]))
        pq.write_table(
            pa.table({
                "doc_id": pa.array(cols[0], pa.int64()),
                "text": pa.array(cols[1], pa.string()),
                "lang": pa.array(cols[2], pa.string()),
                "source": pa.array(cols[3], pa.string()),
                "n_chars": pa.array(cols[4], pa.int64()),
            }),
            os.path.join(out, "corpus", "documents.parquet"),
        )
        ecols = list(zip(*c["embeddings"]))
        pq.write_table(
            pa.table({
                "vec_id": pa.array(ecols[0], pa.int64()),
                "embedding": pa.array(ecols[1], pa.list_(pa.float32())),
                "label": pa.array(ecols[2], pa.int32()),
            }),
            os.path.join(out, "corpus", "embeddings.parquet"),
        )
        manifest["dedup"] = c["manifest"]
    if "landing" in what:
        ld = landing_inputs(seed)
        os.makedirs(os.path.join(out, "landing"), exist_ok=True)
        for e, rows in enumerate(ld["epochs"]):
            path = os.path.join(out, "landing", f"epoch-{e:03d}.jsonl")
            with open(path, "w") as f:
                for doc_id, text in rows:
                    f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
            # the file source takes files oldest first: one second apart
            # keeps the epochs in order even on coarse-mtime filesystems
            os.utime(path, (LANDING_MTIME0 + e, LANDING_MTIME0 + e))
        manifest["landing"] = ld["manifest"]
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--what", default="qa,dedup,landing")
    args = ap.parse_args()
    m = generate(args.seed, args.out, tuple(args.what.split(",")))
    print(json.dumps({k: v for k, v in m.items() if k == "seed"}))


if __name__ == "__main__":
    main()
