"""Seeded input generators for the benchmark.

Everything here is single-threaded and deterministic: the same seed
gives byte-identical files.

- :func:`write_landing` lands documents-shaped NDJSON files for the two
  stream workloads. Text is ASCII only, because ``cleaning.py``
  documents a Java-vs-RE2 ``\\b`` divergence on non-ASCII letters.
- :func:`write_fixtures` writes the three parquet tables the
  ``llm_ops`` queries read, in the schema and shape of their test
  fixtures. The embeddings do not depend on the seed:
  ``q_sim_ann_pq_trained`` has no SQL oracle, so its result is pinned
  in ``expected.json``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

#: Shares the landing generator uses; the benchmark prints them.
ES_SHARE = 0.7  # documents with lang == "es"
REPOST_SHARE = 0.25  # documents that copy an earlier document
EXACT_REPOST_SHARE = 0.5  # of reposts: byte-identical text
SAME_FILE_REPOST_SHARE = 0.5  # of reposts: source is in the same file
MENTION_SHARE = 0.3
URL_SHARE = 0.3

# ASCII-only vocabularies. No content word is a stopword, and none
# contains "ftp"/"http", so the URL pattern only ever matches URLs.
STOPWORDS = (
    "de", "la", "que", "el", "en", "y", "los", "del", "se", "las", "por",
    "un", "para", "con", "una", "su", "al", "lo", "como", "pero", "muy",
    "sin", "sobre", "entre", "cuando", "desde", "todo", "nos",
)
WORDS = (
    "datos", "ciudad", "gobierno", "partido", "lluvia", "futbol", "mercado",
    "precio", "noticia", "trabajo", "escuela", "musica", "pelicula",
    "equipo", "juego", "viaje", "playa", "montana", "camino", "tiempo",
    "semana", "manana", "noche", "comida", "cafe", "libro", "historia",
    "mundo", "pais", "gente", "salud", "hospital", "medico", "ley", "voto",
    "eleccion", "campana", "empresa", "banco", "dinero", "casa", "calle",
    "barrio", "tren", "avion", "coche", "radio", "video", "foto", "red",
    "internet", "movil", "mensaje", "amigo", "familia", "fiesta",
    "concierto", "estadio", "gol", "liga",
)
OTHER_LANGS = ("en", "pt", "fr")
SOURCES = ("web", "android", "iphone", "bot", "api")
_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

#: mtime of the first landing file (2020-01-01T00:00:00Z); file k gets
#: this plus k seconds, so file order is batch order.
_MTIME0 = 1_577_836_800

EMBEDDING_SEED = 42


def _decorate(rng: random.Random, words: list[str]) -> str:
    """Render content words as tweet text: random case, interleaved
    stopwords, an optional mention and URL, and uneven spacing. The
    cleaning chain maps every rendering of ``words`` to the same
    string."""
    out = []
    for w in words:
        r = rng.random()
        out.append(w.upper() if r < 0.05 else w.capitalize() if r < 0.25 else w)
        if rng.random() < 0.4:
            sw = rng.choice(STOPWORDS)
            out.append(sw.capitalize() if rng.random() < 0.2 else sw)
    if rng.random() < MENTION_SHARE:
        out.insert(rng.randrange(len(out) + 1), f"@user_{rng.randrange(500)}")
    if rng.random() < URL_SHARE:
        tail = "".join(rng.choice(_ALNUM) for _ in range(8))
        out.append(f"https://t.co/{tail}")
    return (" " if rng.random() < 0.8 else "  ").join(out)


def landing_docs(seed: int, n_files: int, docs_per_file: int, first_id: int = 0):
    """Yield one list of document dicts per landing file. ``doc_id``
    increases across files."""
    rng = random.Random(seed)
    pool: list[tuple[list[str], str, str]] = []  # (words, text, lang)
    doc_id = first_id
    for _ in range(n_files):
        docs, local = [], []
        for _ in range(docs_per_file):
            if pool and rng.random() < REPOST_SHARE:
                src = local if local and rng.random() < SAME_FILE_REPOST_SHARE else pool
                words, text, lang = rng.choice(src)
                if rng.random() >= EXACT_REPOST_SHARE:
                    text = _decorate(rng, words)
            else:
                words = [rng.choice(WORDS) for _ in range(rng.randint(3, 9))]
                text = _decorate(rng, words)
                lang = "es" if rng.random() < ES_SHARE else rng.choice(OTHER_LANGS)
            local.append((words, text, lang))
            docs.append(
                {
                    "doc_id": doc_id,
                    "text": text,
                    "lang": lang,
                    "source": rng.choice(SOURCES),
                    "n_chars": len(text),
                }
            )
            doc_id += 1
        pool.extend(local)
        yield docs


def write_landing(
    landing_dir: str, seed: int, n_files: int, docs_per_file: int, first_id: int = 0
) -> list[str]:
    """Land ``n_files`` NDJSON files named like the reference's
    ``stream_%Y%m%d_%H%M%S.json``, each with a strictly later mtime
    than the one before. Returns the paths in landing order."""
    from twitter_etl_spark.sources import ensure_landing_dir, landing_file_name

    ensure_landing_dir(landing_dir)
    paths = []
    for k, docs in enumerate(landing_docs(seed, n_files, docs_per_file, first_id)):
        ts = dt.datetime.fromtimestamp(_MTIME0 + k, dt.timezone.utc)
        path = os.path.join(landing_dir, landing_file_name(ts.strftime("%Y%m%d_%H%M%S")))
        with open(path, "w", encoding="ascii") as f:
            for d in docs:
                f.write(json.dumps(d, separators=(",", ":")) + "\n")
        os.utime(path, (_MTIME0 + k, _MTIME0 + k))
        paths.append(path)
    return paths


def write_fixtures(out_dir: str, seed: int, sf: float) -> str:
    """Write ``lineitem``, ``customer`` and ``embeddings`` parquet in
    the schema of the queries' test fixtures, with their key ranges per
    scale factor (uniform keys from ``seed``; 500 64-d unit embeddings
    in 10 weak clusters from ``EMBEDDING_SEED``). Returns ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_li, n_ord, n_part = int(6_000_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_supp, n_cust, n_emb = int(10_000 * sf), int(150_000 * sf), 500

    day0 = np.datetime64("1992-01-01", "ms")
    ship = day0 + rng.integers(0, 3600, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(ship, pa.timestamp("ms")),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    erng = np.random.default_rng(EMBEDDING_SEED)
    centers = erng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = erng.integers(0, 10, n_emb)
    x = 0.15 * centers[label] + erng.standard_normal((n_emb, 64)) / 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    for name, t in (("lineitem", lineitem), ("customer", customer), ("embeddings", embeddings)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
