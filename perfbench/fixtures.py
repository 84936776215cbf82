"""Input tables of the ``catalog`` workload, generated inside the
checkout.

The tables have the schemas and sizes of the sf0.1 ``events``,
``documents`` and ``embeddings`` tables the catalog is written against
(100k events over 30 days and 1500 users, 5000 documents over a
31-word vocabulary with 5% marked near-duplicates, 2000 unit-norm
64-d embeddings with 10 labels). They are made once per checkout from a
fixed data seed and are read-only afterwards: the workload ``--seed``
never changes them, so every run reads the same bytes.
"""

from __future__ import annotations

import os
import shutil

#: Bump when the generator changes, so cached tables are rebuilt.
VERSION = "1"
DATA_SEED = 42
SF = "sf0.1"

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_LANGS = (["en"] * 41) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 15) + (["es"] * 15)
_EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]


def _events(rng):
    import numpy as np
    import pyarrow as pa

    n = 100_000
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(
                [_EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
            ),
            "value": pa.array(
                np.round(np.minimum(rng.gamma(1.3, 45.0, n), 560.0), 2)
            ),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng):
    import numpy as np
    import pyarrow as pa

    n = 5000
    texts: list[str] = []
    for i in range(n):
        if i > 100 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked like the
            # sf0.1 tables; two picks of one base make an exact pair
            texts.append(texts[int(rng.integers(0, i))].replace(" dup", "") + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng):
    import numpy as np
    import pyarrow as pa

    n, d = 2000, 64
    x = rng.standard_normal((n, d)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


TABLES = {"events": _events, "documents": _documents, "embeddings": _embeddings}


def ensure_tables(work_dir: str) -> str:
    """Return the table directory, generating it on first use. The write
    goes to a sibling directory that is renamed into place, so a run
    killed mid-build leaves no half-written tables behind."""
    import numpy as np
    import pyarrow.parquet as pq

    out = os.path.join(work_dir, "data", SF)
    stamp = os.path.join(out, f"VERSION-{VERSION}")
    if os.path.exists(stamp):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, (name, make) in enumerate(TABLES.items()):
        table = make(np.random.default_rng(DATA_SEED + i))
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, f"VERSION-{VERSION}"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
