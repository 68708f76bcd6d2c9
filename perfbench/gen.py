"""Seeded input generation.

The same seed gives byte-identical table contents, documents and query
orders; a different seed gives different ones. ``content_sha256`` in each
summary hashes the generated values (not the parquet bytes), so two runs can
be compared for identical inputs.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.config import (
    DOC_WORDS,
    EMBED_DIM,
    NER_DOCS,
    NER_FILES,
    NER_LEN_CAP_WORDS,
    NER_LEN_MEDIAN_WORDS,
    NER_LEN_SIGMA,
    NER_MODEL,
    NER_OOV_SHARE,
    NER_OOV_WORDS,
    NER_SLICES,
    NER_VOCAB,
    OLAP_QUERIES,
    ROWS,
)

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    """Two-decimal prices as doubles (integer cents / 100), like the test data."""
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _hash_table(h, table: pa.Table) -> None:
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(memoryview(buf))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Space-separated words; ~5% exact copies and ~10% one-word edits of an
    earlier document, so exact and near dedup both find pairs."""
    words = np.array(DOC_WORDS)
    lens = rng.integers(8, 100, n)
    texts: list[str] = []
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kinds[i] < 0.15:
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(ws))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return texts


def gen_olap(seed: int, out_dir: str) -> dict:
    """The star schema plus events, documents and embeddings (sizes: ROWS)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    r = ROWS
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = r["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -99_999, 999_999, nc),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, nc)],
    })
    ns = r["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -99_999, 999_999, ns),
    })
    npart = r["part"]
    adj = np.array(["blue", "hot", "large", "small", "red", "green", "cold", "tiny"])
    noun = np.array(["ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve"])
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, npart)
        ],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0,
    })
    no = r["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 100_000, 50_000_000, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, no) * _US_PER_DAY),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    })
    nl = r["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 90_000, 10_500_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _US_PER_DAY),
    })
    ne = r["events"]
    gaps = rng.integers(1, 50_000_000, ne)
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, ne).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, ne)
        ],
        "value": _money(rng, 0, 56_000, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = r["documents"]
    texts = _documents(rng, nd)
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, nd)],
        "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    nv = r["embeddings"]
    vals = rng.standard_normal(nv * EMBED_DIM).astype(np.float32)
    offsets = np.arange(0, (nv + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals)),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })

    h = hashlib.sha256()
    for name, t in tables.items():
        _hash_table(h, t)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "rows": {k: v.num_rows for k, v in tables.items()},
        "content_sha256": h.hexdigest(),
    }


def query_rounds(seed: int, n_rounds: int) -> list[list[str]]:
    """Seed-shuffled query order, one independent shuffle per round."""
    rnd = random.Random(seed)
    out = []
    for _ in range(n_rounds):
        order = list(OLAP_QUERIES)
        rnd.shuffle(order)
        out.append(order)
    return out


def slice_order(seed: int, n_ops: int) -> list[int]:
    """Seeded sequence of ner slices: shuffled passes over all slices."""
    rnd = random.Random(seed * 7919 + 1)
    out: list[int] = []
    while len(out) < n_ops:
        p = list(range(NER_SLICES))
        rnd.shuffle(p)
        out.extend(p)
    return out[:n_ops]


def write_ner_model(path: str) -> None:
    """q_ner_bert's model: seeded random weights over the documents vocab."""
    from duckdb_ner_spark.ner.ggml_format import write_ggml
    from tools.convert_model import random_model

    cfg = dict(NER_MODEL)
    seed = cfg.pop("seed")
    hp, tensors = random_model(list(NER_VOCAB), seed=seed, **cfg)
    write_ggml(path, hp, list(NER_VOCAB), tensors)


def ner_texts(seed: int) -> list[str]:
    rng = np.random.default_rng(seed + 1_000_003)
    in_vocab = np.array([w for w in NER_VOCAB if not w.startswith("[")])
    oov = np.array(NER_OOV_WORDS)
    lens = np.minimum(
        NER_LEN_CAP_WORDS,
        1 + np.floor(rng.lognormal(np.log(NER_LEN_MEDIAN_WORDS), NER_LEN_SIGMA, NER_DOCS)),
    ).astype(int)
    texts = []
    for n in lens:
        pick_oov = rng.random(n) < NER_OOV_SHARE
        ws = np.where(pick_oov, oov[rng.integers(0, len(oov), n)],
                      in_vocab[rng.integers(0, len(in_vocab), n)])
        texts.append(" ".join(ws))
    return texts


def gen_ner(seed: int, out_dir: str) -> dict:
    """Documents for ner_bert as NER_FILES parquet files with a ``slice``
    column spread over every file, plus the GGML model."""
    from duckdb_ner_spark.ner.tokenizer import tokenize
    from duckdb_ner_spark.ner.vocab import Vocab

    docs_dir = os.path.join(out_dir, "ner_docs")
    os.makedirs(docs_dir, exist_ok=True)
    texts = ner_texts(seed)
    perm = np.random.default_rng(seed + 2_000_003).permutation(NER_DOCS)
    slices = (perm % NER_SLICES).astype(np.int32)
    doc_ids = np.arange(NER_DOCS, dtype=np.int64)
    for f in range(NER_FILES):
        sel = doc_ids % NER_FILES == f
        pq.write_table(
            pa.table({
                "doc_id": doc_ids[sel],
                "slice": pa.array(slices[sel]),
                "text": [t for t, s in zip(texts, sel) if s],
            }),
            os.path.join(docs_dir, f"part-{f:03d}.parquet"),
        )
    model_path = os.path.join(out_dir, "ner_model.bin")
    write_ner_model(model_path)

    vocab = Vocab.from_tokens(list(NER_VOCAB))
    n_max = NER_MODEL["n_max_tokens"]
    n_tok = np.array([len(tokenize(vocab, t, n_max)) for t in texts])
    n_words = np.array([t.count(" ") + 1 for t in texts])
    edges = [1, 8, 16, 32, 64, 128, NER_LEN_CAP_WORDS + 1]
    hist = np.histogram(n_words, bins=edges)[0]
    return {
        "docs_dir": docs_dir,
        "model_path": model_path,
        "documents": NER_DOCS,
        "slices": NER_SLICES,
        "slice_size": NER_DOCS // NER_SLICES,
        "files": NER_FILES,
        "tokens_total": int(n_tok.sum()),
        "truncated_docs": int((n_tok >= n_max).sum()),
        "words_histogram": {
            f"{lo}-{hi - 1}": int(c) for lo, hi, c in zip(edges[:-1], edges[1:], hist)
        },
        "content_sha256": hashlib.sha256("\n".join(texts).encode()).hexdigest(),
    }
