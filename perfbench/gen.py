"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from ``--seed``:
the same seed gives byte-identical inputs. Nothing is read from the test
suite, so a test edit cannot move the benchmark.

- :func:`churn` — a churn-shaped survival table (6 numeric features, one
  three-level categorical, a Weibull duration whose scale depends on the
  features, and a Bernoulli event flag) for the ``surv_*`` workloads.
- :func:`write_tables` — the three parquet tables the registry board reads
  (``events``, ``documents``, ``embeddings``), with the column types and
  value shapes of the star-schema test data: a 30-word vocabulary, 5%
  near-duplicate documents (a copy of an earlier text plus " dup"), a few
  exact duplicates, unit-norm 64-d embeddings in 10 weakly separated
  labels, and a 30-day event stream in time order.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def churn(n: int, seed: int) -> pd.DataFrame:
    """Churn-shaped survival table: ``months_active`` (duration),
    ``churned`` (event) and seven features, one of them categorical."""
    rng = np.random.default_rng(seed)
    product = rng.choice(["basic", "plus", "premium"], n)
    csat = np.round(rng.uniform(0, 10, n), 1)
    articles = rng.poisson(5, n).astype(float)
    notifications = rng.poisson(10, n).astype(float)
    emails = rng.poisson(3, n).astype(float)
    ads = rng.poisson(7, n).astype(float)
    support = np.round(rng.exponential(8, n), 2)
    risk = -0.15 * csat + 0.03 * support - 0.2 * (product == "premium")
    months = np.round(rng.weibull(1.2, n) * 24 * np.exp(-risk), 1) + 0.1
    return pd.DataFrame(
        {
            "months_active": months,
            "churned": rng.binomial(1, 0.5, n),
            "product_purchased": product,
            "csat_score": csat,
            "articles_viewed": articles,
            "smartphone_notifications_viewed": notifications,
            "marketing_emails_clicked": emails,
            "social_media_ads_viewed": ads,
            "minutes_customer_support": support,
        }
    )


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.6, (10, dim))
    vecs = rng.normal(0.0, 1.0, (n, dim)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def _events(n: int, rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    n_users = max(n // 66, 15)
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props, pa.string()),
        }
    )


def write_tables(out_dir: str, seed: int, docs: int, events: int, embeddings: int) -> None:
    """Write ``events``/``documents``/``embeddings`` parquet under
    ``out_dir`` as ``<name>.parquet`` (the layout ``load_table`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in (
        ("documents", _documents(docs, rng)),
        ("embeddings", _embeddings(embeddings, rng)),
        ("events", _events(events, rng)),
    ):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
