"""Seeded inputs.  Corpora come from ``datagen.synth_documents(seed=...)``;
queries, planted duplicates and embeddings from
``numpy.random.default_rng(seed)``.  The same seed always gives the same
inputs; the generators below need no Spark session, so their determinism
is testable on its own."""

from __future__ import annotations

import hashlib
import json

import numpy as np

from full_lattice_search_spark.datagen import VOCAB

# the search stream cycles these shapes in this order, so every seed has
# the same mix; the seed picks terms and parameters
SEARCH_SHAPES = ("slop", "lucene_unordered", "payload_only", "multi_phrase",
                 "absent")


def digest(obj) -> str:
    """Stable sha256 of a JSON-serializable value (numpy arrays allowed)."""
    def default(o):
        if isinstance(o, np.ndarray):
            return {"dtype": str(o.dtype), "shape": o.shape,
                    "sha": hashlib.sha256(o.tobytes()).hexdigest()}
        if isinstance(o, np.generic):
            return o.item()
        raise TypeError(type(o))
    blob = json.dumps(obj, sort_keys=True, default=default).encode()
    return hashlib.sha256(blob).hexdigest()


def _terms(rng: np.random.Generator, n: int) -> list[str]:
    return [str(t) for t in rng.choice(VOCAB, size=n, replace=False)]


def _absent_term(rng: np.random.Generator) -> str:
    # 'q' followed by letters never forms a vocabulary word
    return "zq" + "".join(rng.choice(list("bcdfghjkmnpqrstvwxz"), size=6))


def search_stream(seed: int, n: int) -> list[dict]:
    """``n`` search requests: {"shape", "body", "similarity"}."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(n):
        shape = SEARCH_SHAPES[i % len(SEARCH_SHAPES)]
        similarity = None
        if shape == "slop":
            inner = {"query": " ".join(_terms(rng, 2)),
                     "slop": int(rng.integers(0, 4))}
        elif shape == "lucene_unordered":
            inner = {"query": " ".join(_terms(rng, 2)), "slop": 2,
                     "in_order": False}
            similarity = "lucene"
        elif shape == "payload_only":
            inner = {"query": " ".join(_terms(rng, int(rng.integers(2, 4)))),
                     "slop": int(rng.integers(1, 4)),
                     "payload_function": str(rng.choice(["sum", "max", "min"])),
                     "include_span_score": False}
        elif shape == "multi_phrase":
            a, b, c = _terms(rng, 3)
            inner = {"query": [[a, b], [c]], "slop": 1}
        else:
            inner = {"query": f"{_absent_term(rng)} {_terms(rng, 1)[0]}"}
        out.append({"shape": shape,
                    "body": {"match_lattice": {"spans": inner}},
                    "similarity": similarity})
    return out


def probe_queries(seed: int, n: int) -> list[str]:
    """Two-term phrase queries for the traced layer cuts."""
    rng = np.random.default_rng([seed, 2])
    return [" ".join(_terms(rng, 2)) for _ in range(n)]


def standing_queries(seed: int, n: int) -> list[tuple[str, str]]:
    """(query_id, text) pairs for ``match_lattice_many``."""
    rng = np.random.default_rng([seed, 3])
    return [(f"sq{i:03d}", " ".join(_terms(rng, int(rng.integers(2, 4)))))
            for i in range(n)]


def dup_plan(seed: int, n_docs: int, exact: int, near: int
             ) -> list[tuple[int, str]]:
    """(source doc index, "exact" | "near") for each planted duplicate.
    Sources skip the fixture docs at indexes 0..3."""
    rng = np.random.default_rng([seed, 4])
    src = rng.choice(np.arange(4, n_docs), size=exact + near, replace=False)
    return [(int(i), "exact" if k < exact else "near")
            for k, i in enumerate(src)]


def embeddings(seed: int, n: int, dim: int, clusters: int) -> np.ndarray:
    """Unit-norm clustered vectors, so dot product equals cosine."""
    rng = np.random.default_rng([seed, 5])
    centers = rng.normal(size=(clusters, dim))
    labels = rng.integers(0, clusters, size=n)
    x = centers[labels] + 0.35 * rng.normal(size=(n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)
