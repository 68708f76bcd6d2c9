"""The DuckDB twin's NER model: a fixed, per-row BERT token-classification
forward pass.

It evaluates one row at a time, the shape of the reference DuckDB extension
(one model evaluation per row), with the same arithmetic as the GGML BERT
(embeddings of word + type 0 + position, LayerNorm with eps 1e-5, unmasked
multi-head attention, tanh-approximated GELU, linear classifier). It lives in
the benchmark so that the twin keeps its speed when the engine's NER forward
pass or batching changes: ``ner_bert``'s ``vs_duckdb_x`` then moves with the
engine's forward pass, batching, Arrow boundary and Spark overhead. The twin
shares only the engine's GGML reader (at set-up), tokenizer and entity
decoder.
"""

from __future__ import annotations

import numpy as np

_EPS = 1e-5
_SQRT_2_OVER_PI = 0.7978845608028654


def _norm(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=-1, keepdims=True)
    var = ((x - mu) ** 2).mean(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + _EPS) * w + b


class RowBert:
    def __init__(self, path: str):
        from duckdb_ner_spark.ner.ggml_format import read_ggml
        from duckdb_ner_spark.ner.vocab import Vocab

        mf = read_ggml(path)
        hp, t = mf.hparams, mf.tensors
        self.vocab = Vocab.from_tokens(mf.vocab)
        self.n_head = hp["n_head"]
        self.n_max_tokens = hp["n_max_tokens"]
        self.emb = (t["embeddings.word_embeddings.weight"],
                    t["embeddings.token_type_embeddings.weight"][0],
                    t["embeddings.position_embeddings.weight"])
        self.emb_norm = (t["embeddings.LayerNorm.weight"], t["embeddings.LayerNorm.bias"])

        def linear(name):  # stored (out, in): y = x @ W.T + b
            return t[name + ".weight"].T.copy(), t[name + ".bias"]

        def norm(name):
            return t[name + ".weight"], t[name + ".bias"]

        self.layers = [
            [linear(f"encoder.layer.{i}.{n}") for n in (
                "attention.self.query", "attention.self.key", "attention.self.value",
                "attention.output.dense", "intermediate.dense", "output.dense")]
            + [norm(f"encoder.layer.{i}.attention.output.LayerNorm"),
               norm(f"encoder.layer.{i}.output.LayerNorm")]
            for i in range(hp["n_layer"])
        ]
        self.classifier = linear("classifier")

    def logits(self, ids: list[int]) -> np.ndarray:
        """One row: [n] token ids -> [n, n_labels] float32 logits."""
        word, type0, pos = self.emb
        n = len(ids)
        x = _norm(word[ids] + type0 + pos[:n], *self.emb_norm)
        h = self.n_head
        d = x.shape[1] // h
        for (wq, bq), (wk, bk), (wv, bv), (wo, bo), (wi, bi), (wf, bf), ln1, ln2 in self.layers:
            q = (x @ wq + bq).reshape(n, h, d).transpose(1, 0, 2)
            k = (x @ wk + bk).reshape(n, h, d).transpose(1, 2, 0)
            v = (x @ wv + bv).reshape(n, h, d).transpose(1, 0, 2)
            s = (q @ k) / np.sqrt(d)
            p = np.exp(s - s.max(axis=-1, keepdims=True))
            p /= p.sum(axis=-1, keepdims=True)
            ctx = (p @ v).transpose(1, 0, 2).reshape(n, h * d)
            x = _norm(ctx @ wo + bo + x, *ln1)
            f = x @ wi + bi
            f = 0.5 * f * (1.0 + np.tanh(_SQRT_2_OVER_PI * (f + 0.044715 * f**3)))
            x = _norm(f @ wf + bf + x, *ln2)
        w, b = self.classifier
        return (x @ w + b).astype(np.float32)
