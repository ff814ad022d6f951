"""Seeded benchmark inputs, generated once per (seed, size) and cached on disk.

Everything here is a pure function of its arguments, so the same seed gives
the same inputs. Generation never needs a Spark session; the on-disk cache
keeps generation time out of every timed region and out of ``setup_s``.

- transcripts: ``ir_base_spark.fixtures.make_transcripts`` written as
  parquet (one file per conversation range), plus the UTF-8 byte count of
  ``text`` that ``index_bytes_per_text_byte`` divides by.
- queries: ``fixtures.make_queries`` batches, one sub-seed per batch.
- entry tables: ``documents`` and ``embeddings`` parquet files with the
  schema and value mix of the ``__spark_entry__`` test tables (a 30-word
  vocabulary, 10-100 words per document, ~5% near-duplicates, unit-norm
  64-d float32 embeddings with a 0-9 label).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64


def _publish(tmp: str, final: str) -> None:
    """Atomic publish of a finished cache directory (a concurrent writer
    of the same key produced identical bytes, so losing the race is
    harmless)."""
    try:
        os.replace(tmp, final)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def transcripts(cache_dir: str, n_conversations: int, seed: int, files: int) -> dict:
    """→ {"path", "turns", "text_bytes", "pdf"}; ``pdf`` is the pandas
    frame the oracle and the query generator read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(cache_dir, f"transcripts_n{n_conversations}_s{seed}")
    meta_path = os.path.join(final, "_meta.json")
    if not os.path.exists(meta_path):
        from ir_base_spark.fixtures import make_transcripts

        pdf = make_transcripts(n_conversations=n_conversations, seed=seed)
        tmp = f"{final}._tmp{os.getpid()}"
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        # contiguous conversation ranges, one file each: the build's
        # input scan gets ``files`` tasks instead of one
        bounds = np.linspace(0, len(pdf), files + 1).astype(int)
        # UTC-adjusted microseconds: Spark reads it back as its plain
        # ``timestamp`` type, as if the frame had gone through Spark
        on_disk = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
        for i in range(files):
            part = on_disk.iloc[bounds[i] : bounds[i + 1]]
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                os.path.join(data, f"part-{i:03d}.parquet"),
                coerce_timestamps="us",
            )
        meta = {
            "turns": int(len(pdf)),
            "text_bytes": int(sum(len(t.encode("utf-8")) for t in pdf["text"])),
        }
        with open(os.path.join(tmp, "_meta.json"), "w") as fh:
            json.dump(meta, fh)
        _publish(tmp, final)
    with open(meta_path) as fh:
        meta = json.load(fh)
    data = os.path.join(final, "data")
    pdf = pd.read_parquet(data)
    return {"path": data, "pdf": pdf, **meta}


def query_batch(transcripts_pdf: pd.DataFrame, seed: int, batch: int, n: int) -> pd.DataFrame:
    """The ``batch``-th seeded query batch of ``n`` queries."""
    from ir_base_spark.fixtures import make_queries

    sub = int(np.random.SeedSequence([seed, batch]).generate_state(1)[0])
    return make_queries(transcripts_pdf, n_queries=n, seed=sub)


def _documents(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    words = np.array(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one word dropped,
            # or a marker word appended
            src = texts[int(rng.integers(i))].split()
            if rng.random() < 0.5 and len(src) > 10:
                del src[int(rng.integers(len(src)))]
            else:
                src.append("dup")
            texts.append(" ".join(src))
            continue
        n = int(rng.integers(10, 101))
        texts.append(" ".join(words[rng.integers(len(words), size=n)]))
    langs = rng.choice(np.array(DOC_LANGS), size=n_docs, p=DOC_LANG_P)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n_vecs: int) -> pd.DataFrame:
    x = rng.standard_normal((n_vecs, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(x),
            "label": rng.integers(0, 10, size=n_vecs).astype(np.int32),
        }
    )


def entry_tables(cache_dir: str, n_docs: int, n_vecs: int, seed: int) -> str:
    """→ a directory holding ``documents.parquet`` and
    ``embeddings.parquet``, laid out like the ``sf_dir`` that
    ``__spark_entry__`` entries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    final = os.path.join(cache_dir, f"entry_d{n_docs}_v{n_vecs}_s{seed}")
    if not os.path.isdir(final):
        rng = np.random.default_rng([seed, n_docs, n_vecs])
        tmp = f"{final}._tmp{os.getpid()}"
        os.makedirs(tmp)
        docs = _documents(rng, n_docs)
        emb = _embeddings(rng, n_vecs)
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            os.path.join(tmp, "documents.parquet"),
        )
        emb_tbl = pa.table(
            {
                "vec_id": pa.array(emb["vec_id"]),
                "embedding": pa.array(
                    [v.tolist() for v in emb["embedding"]], pa.list_(pa.float32())
                ),
                "label": pa.array(emb["label"]),
            }
        )
        pq.write_table(emb_tbl, os.path.join(tmp, "embeddings.parquet"))
        _publish(tmp, final)
    return final
