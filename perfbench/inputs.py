"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes the
same bytes. The program under test only ever sees the files written here.
"""

from __future__ import annotations

import hashlib
import os
import random
from datetime import timedelta

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from mdmpublic_spark.gen.synth import generate_corpus


def url_hash(url: str, seed: int) -> int:
    """Stable seeded 64-bit hash of a url (independent of Python's hash salt)."""
    return int.from_bytes(hashlib.blake2b(f"{seed}:{url}".encode(), digest_size=8).digest(), "little")


def corpus(out_dir: str, n_pages: int, seed: int) -> dict:
    """The synthetic page corpus (pages + labeled_pairs + expected_clusters)."""
    stats = generate_corpus(out_dir, n_pages=n_pages, seed=seed)
    stats["bytes"] = os.path.getsize(os.path.join(out_dir, "pages.parquet"))
    return stats


def split_delta(
    corpus_dir: str, out_dir: str, seed: int, modulus: int, n_recaptures: int
) -> dict:
    """Split a corpus into a base and a delta batch.

    The delta holds a seeded 1-in-``modulus`` url-hash slice of the pages
    (the urls with the smallest seeded hashes, so its size is the same for
    every seed) plus ``n_recaptures`` newer captures of base urls that
    carry another base page's html and text, so the batch exercises both
    the insert path and the changed-url path. Writes base.parquet,
    delta.parquet and union.parquet (base ∪ delta, the full-recompute
    input)."""
    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    urls = pages.column("url").to_pylist()
    chosen = set(sorted(urls, key=lambda u: url_hash(u, seed))[: len(urls) // modulus])
    in_delta = pa.array([u in chosen for u in urls])
    base = pages.filter(pc.invert(in_delta))
    fresh = pages.filter(in_delta)

    rng = random.Random(f"{seed}:recaptures")
    picks = rng.sample(range(base.num_rows), 2 * n_recaptures)
    owners, donors = picks[:n_recaptures], picks[n_recaptures:]
    base_rows = base.to_pylist()
    recaptured = [
        {
            **base_rows[o],
            "warc_ts": base_rows[o]["warc_ts"] + timedelta(days=1),
            "html": base_rows[d]["html"],
            "text": base_rows[d]["text"],
        }
        for o, d in zip(owners, donors)
    ]
    delta = pa.concat_tables([fresh, pa.Table.from_pylist(recaptured, schema=pages.schema)])
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (
        ("base", base),
        ("delta", delta),
        ("union", pa.concat_tables([base, delta])),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name], row_group_size=20_000)
    return {
        **paths,
        "base_rows": base.num_rows,
        "delta_rows": delta.num_rows,
        "fresh_rows": fresh.num_rows,
        "recaptured_urls": sorted(base_rows[o]["url"] for o in owners),
        "delta_bytes": os.path.getsize(paths["delta"]),
    }


# --- near-duplicate documents ---------------------------------------------

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
DOC_CONTENT_SEED = 7  # content is fixed; the run seed only reorders rows
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]


def _vocab(n: int) -> list[str]:
    rng = random.Random(f"{DOC_CONTENT_SEED}:vocab:{n}")
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))))
    return sorted(words)


def documents_content(n_docs: int) -> tuple[list[dict], list[int]]:
    """Fixed near-duplicate document set with planted truth.

    About 40% of the documents form planted groups. Each group is a
    chain: member k is member k-1 with one word replaced, or with its
    words shuffled, or an exact copy. Every edge of a chain has token
    Jaccard ≥ 0.95, while the ends of a long chain need not, so
    clustering has to close the chain transitively. The other documents
    are independent draws. Returns the rows (doc_id, text, lang, source,
    n_chars) and each row's planted group id (the doc's own id when it
    is in no group)."""
    vocab = _vocab(4000)
    rng = random.Random(f"{DOC_CONTENT_SEED}:docs")
    rows: list[dict] = []
    truth: list[int] = []

    def add(words: list[str], group: int | None) -> None:
        doc_id = len(rows)
        text = " ".join(words)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": LANGS[doc_id % len(LANGS)],
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
        truth.append(doc_id if group is None else group)

    grouped_budget = int(n_docs * 0.4)
    while grouped_budget >= 2 and len(rows) < n_docs - 1:
        size = min(rng.randint(2, 8), grouped_budget, n_docs - len(rows))
        group = len(rows)
        words = [rng.choice(vocab) for _ in range(rng.randint(60, 120))]
        add(words, group)
        for _ in range(size - 1):
            kind = rng.random()
            words = list(words)
            if kind < 0.6:
                words[rng.randrange(len(words))] = rng.choice(vocab)
            elif kind < 0.8:
                rng.shuffle(words)
            add(words, group)
        grouped_budget -= size
    while len(rows) < n_docs:
        add([rng.choice(vocab) for _ in range(rng.randint(10, 120))], None)
    return rows, truth


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def documents(out_dir: str, n_docs: int, seed: int) -> dict:
    """Write documents.parquet: the fixed content in a seeded row order
    and a seeded row-group size. Returns the truth labels by doc id, and
    the parquet size of the content in doc_id order as one row group,
    which is the same for every seed."""
    rows, truth = documents_content(n_docs)
    canonical = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(rows, schema=DOC_SCHEMA), canonical)
    rng = random.Random(f"{seed}:order")
    rng.shuffle(rows)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.Table.from_pylist(rows, schema=DOC_SCHEMA),
        path,
        row_group_size=rng.choice([n_docs // 8, n_docs // 3, n_docs]),
    )
    return {"path": path, "truth": truth, "content_bytes": canonical.tell()}
