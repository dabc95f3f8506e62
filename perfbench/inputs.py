"""Seeded inputs for every workload.

Transactions (spending workloads):

Each record has the reference producer's wire shape (one JSON object
per line: UUID-shaped id, numeric customer id, merchant 1-500, amount
U(0, 1000) rounded to 2 dp, UTC timestamp, payment method, status).
Input properties the pipeline's behaviour depends on:

- about ``dup_frac`` of the lines in a file redeliver a transaction
  already sent one to three files earlier, byte for byte, as Kafka's
  at-least-once delivery does;
- event times jitter up to ``JITTER_S`` either side of the file's
  nominal time, so events arrive out of order but always within the
  pipeline's 5 s watermark (nominal times step by at least 1 s per
  file, so no event can fall behind the watermark of an earlier batch);
- all events fall on one day, starting at 01:00, so none lands in the
  first 5 minutes after midnight where the daily rollup may date a
  transaction by its previous-day window.

Documents with embeddings (``curation_ingest``): a corpus and waves
whose every document's verdict is known by construction (see
:func:`curation_docs`).  Tables (``query_mix``): ``documents``,
``embeddings`` and ``events`` in the shape of the program's test data,
with planted near-duplicates so the dedup and graph queries return
rows (see :func:`mix_tables`).
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import json
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

PAYMENT_METHODS = ("Credit Card", "Debit Card", "PayPal", "UPI", "Net Banking")
STATUSES = ("Success", "Pending", "Failed")
N_CUSTOMERS = 1000
JITTER_S = 2


@dataclass(frozen=True)
class Txn:
    transaction_id: str
    customer_id: int
    merchant_id: int
    timestamp: dt.datetime
    amount: float
    payment_method: str
    status: str

    def line(self) -> str:
        # every string field is hex, digits or a fixed ASCII label, so
        # no JSON escaping is needed
        return (
            f'{{"transaction_id": "{self.transaction_id}", '
            f'"customer_id": {self.customer_id}, "merchant_id": {self.merchant_id}, '
            f'"timestamp": "{self.timestamp:%Y-%m-%dT%H:%M:%SZ}", "amount": {self.amount!r}, '
            f'"payment_method": "{self.payment_method}", "status": "{self.status}"}}'
        )


def _zipf_cum_weights(n: int, s: float) -> list[float]:
    return list(itertools.accumulate(1.0 / (k**s) for k in range(1, n + 1)))


def transaction_files(
    seed: int,
    n_files: int,
    rows_per_file: int,
    file_step_s: int,
    zipf_s: float | None = None,
    dup_frac: float = 0.05,
) -> list[list[Txn]]:
    """``n_files`` lists of ``rows_per_file`` transactions.

    Customers are uniform over 1-1000, or Zipf-skewed with exponent
    ``zipf_s`` (customer 1 hottest).  Raises ``ValueError`` when the
    event-time span would leave the day."""
    if file_step_s < 1:
        raise ValueError("file_step_s must be at least 1 s")
    rng = random.Random(seed)
    day = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=seed % 365
    )
    base = day + dt.timedelta(hours=1)
    if (n_files * file_step_s + JITTER_S) >= 22 * 3600:
        raise ValueError("event times would cross midnight")
    cum = _zipf_cum_weights(N_CUSTOMERS, zipf_s) if zipf_s else None
    rand = rng.random
    files: list[list[Txn]] = []
    for i in range(n_files):
        nominal = base + dt.timedelta(seconds=i * file_step_s)
        rows = []
        for _ in range(rows_per_file):
            if files and rand() < dup_frac:
                earlier = files[-1 - int(rand() * min(3, len(files)))]
                rows.append(earlier[int(rand() * len(earlier))])
                continue
            if cum is None:
                customer = 1 + int(rand() * N_CUSTOMERS)
            else:
                customer = 1 + bisect.bisect_left(cum, rand() * cum[-1])
            h = f"{rng.getrandbits(128):032x}"
            rows.append(
                Txn(
                    transaction_id=f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}",
                    customer_id=customer,
                    merchant_id=1 + int(rand() * 500),
                    timestamp=nominal
                    + dt.timedelta(seconds=int(rand() * (2 * JITTER_S + 1)) - JITTER_S),
                    amount=round(rand() * 1000, 2),
                    payment_method=PAYMENT_METHODS[int(rand() * len(PAYMENT_METHODS))],
                    status=STATUSES[int(rand() * len(STATUSES))],
                )
            )
        files.append(rows)
    return files


def distinct(files: list[list[Txn]]) -> list[Txn]:
    """One copy of every transaction in ``files``."""
    return list({t.transaction_id: t for f in files for t in f}.values())


def write_file(path: str, rows: list[Txn]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(t.line() for t in rows) + "\n")


#: curation vocabularies: clean documents draw from ``CLEAN``, spam
#: from the disjoint ``SPAM``, so the quality model separates them
CLEAN = tuple(f"w{i:03d}" for i in range(300))
SPAM = tuple(f"spam{i:02d}" for i in range(20))
EMBED_DIM = 64


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    embedding: tuple[float, ...]
    #: ``clean``, ``spam``, ``text_clone`` (a corpus doc's text) or
    #: ``vector_clone`` (a corpus doc's embedding)
    kind: str

    def line(self) -> str:
        return json.dumps({"doc_id": self.doc_id, "text": self.text, "embedding": list(self.embedding)})


def _words(rng: random.Random, vocab: tuple[str, ...], lo: int, hi: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def _vector(rng: random.Random) -> tuple[float, ...]:
    return tuple(round(rng.gauss(0.0, 1.0), 6) for _ in range(EMBED_DIM))


def curation_docs(
    seed: int,
    n_corpus: int,
    n_waves: int,
    wave_docs: int,
    clone_frac: float = 0.25,
    spam_frac: float = 0.05,
) -> tuple[list[Doc], list[list[Doc]]]:
    """A corpus (every tenth document spam) and ``n_waves`` waves.

    Each wave holds ``clone_frac`` text clones of distinct corpus
    documents, a disjoint ``clone_frac`` of fresh clean texts carrying
    a corpus document's embedding, ``spam_frac`` fresh spam and the
    rest fresh clean documents, shuffled.  Fresh texts are 20-60 words
    over 300 words, so no two share a 3-word shingle run long enough to
    look near-duplicate, and fresh 64-d Gaussian embeddings sit far
    below a 0.9 cosine of each other.  Only the fresh clean documents
    should survive the screens."""
    rng = random.Random(seed)
    corpus = [
        Doc(i, _words(rng, SPAM if i % 10 == 0 else CLEAN, 20, 60), _vector(rng),
            "spam" if i % 10 == 0 else "clean")
        for i in range(n_corpus)
    ]
    n_clone = round(clone_frac * wave_docs)
    n_spam = round(spam_frac * wave_docs)
    waves = []
    next_id = 1_000_000
    for _ in range(n_waves):
        picked = rng.sample(corpus, 2 * n_clone)
        kinds = (
            [("text_clone", c) for c in picked[:n_clone]]
            + [("vector_clone", c) for c in picked[n_clone:]]
            + [("spam", None)] * n_spam
            + [("clean", None)] * (wave_docs - 2 * n_clone - n_spam)
        )
        rng.shuffle(kinds)
        wave = []
        for kind, src in kinds:
            if kind == "text_clone":
                doc = Doc(next_id, src.text, _vector(rng), kind)
            elif kind == "vector_clone":
                doc = Doc(next_id, _words(rng, CLEAN, 20, 60), src.embedding, kind)
            else:
                doc = Doc(next_id, _words(rng, SPAM if kind == "spam" else CLEAN, 20, 60), _vector(rng), kind)
            wave.append(doc)
            next_id += 1
        waves.append(wave)
    return corpus, waves


#: the query-mix vocabulary, the test data's: it holds every term the
#: BM25 query asks for
MIX_WORDS = (
    "a the fast slow big small key order sort table scan merge part window hash join "
    "batch stream spark dup group query row data filter customer line value agg column "
    "vector"
).split()
EVENT_TYPES = ("purchase", "view", "click", "signup", "error")


def mix_tables(seed: int, out_dir: str, n_docs: int, n_events: int, near_dup_frac: float = 0.1) -> None:
    """Write ``documents``, ``embeddings`` and ``events`` parquet
    tables under ``out_dir`` in the program's test-data schema.

    ``near_dup_frac`` of the documents copy an earlier original
    document with one word changed, so MinHash, SimHash and the graph
    queries find pairs.  Copies are made of originals only, so every
    near-duplicate group is a star and the connected-components
    iterations do not depend on the seed.  The same share of embeddings
    copy an earlier vector with small noise.  Events fall on seven days
    from a seeded start."""
    rng = random.Random(seed)
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n_docs):
        if originals and rng.random() < near_dup_frac:
            words = rng.choice(originals).split()
            words[rng.randrange(len(words))] = rng.choice(MIX_WORDS)
            texts.append(" ".join(words))
        else:
            originals.append(_words(rng, tuple(MIX_WORDS), 20, 80))
            texts.append(originals[-1])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(("en", "de", "es", "zh")) for _ in texts],
                "source": [f"src{i % 5}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    vecs: list[list[float]] = []
    for _ in range(n_docs):
        if vecs and rng.random() < near_dup_frac:
            vecs.append([x + rng.gauss(0.0, 0.01) for x in rng.choice(vecs)])
        else:
            vecs.append([rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_docs), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([rng.randrange(10) for _ in vecs], pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 300)
    ts = sorted(start + dt.timedelta(seconds=rng.randrange(7 * 86400), microseconds=rng.randrange(10**6))
                for _ in range(n_events))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_events), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([rng.randint(1, 50) for _ in ts], pa.int64()),
                "event_type": [rng.choice(EVENT_TYPES) for _ in ts],
                "value": [round(rng.random() * 500, 2) for _ in ts],
                "props": [f'{{"k": {rng.randrange(100)}}}' for _ in ts],
            }
        ),
        f"{out_dir}/events.parquet",
    )
