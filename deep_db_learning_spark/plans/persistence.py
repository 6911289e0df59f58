"""Trained-model persistence for the relational stack.

The reference checkpoints through Lightning/MLflow
(``experiments/blueprint_mlflow.py``); this engine's model state is a
plain params dict (``TrainResult.params``) of numpy arrays. Persistence
writes them to one ``arrays.npz`` (exact float64 bits, no text round
trip) plus a ``manifest.json`` recording each layer's layout, so
``load_stack_model`` can rebuild the params dict for
:func:`~.stack.predict_relational_stack` (round-trip prediction
equality is pytest-pinned).

Models saved while the stack could keep a layer's embedding as a
distributed ``(code, evec)`` frame mark that layer ``"emb": "frame"``
and hold its table as parquet under ``layer_<i>_emb/``;
``load_stack_model`` reads such a layer back into the array it
indexes by code, after checking that the codes are exactly ``0..n-1``.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import SparkSession


def save_stack_model(result, path: str) -> None:
    """Persist a :class:`~.training.TrainResult` (or bare params dict)
    from :func:`~.stack.train_relational_stack`."""
    params = getattr(result, "params", result)
    os.makedirs(path, exist_ok=True)
    arrays: dict[str, np.ndarray] = {
        "emb": params["emb"],
        "W_head": params["W_head"],
        "b_head": params["b_head"],
    }
    for i, layer in enumerate(params["layers"]):
        arrays[f"layer_{i}_W"] = layer["W"]
        arrays[f"layer_{i}_b"] = layer["b"]
        arrays[f"layer_{i}_emb"] = layer["emb"]
    np.savez(os.path.join(path, "arrays.npz"), **arrays)
    layers_meta = [{"emb": "array"} for _ in params["layers"]]
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump({"format": 1, "layers": layers_meta}, f)


def _read_frame_emb(spark: SparkSession, path: str) -> np.ndarray:
    """A ``layer_<i>_emb/`` parquet table ``(code, evec)`` as the
    ``(n, emb_dim)`` array in code order; any other layout (a missing
    or repeated code, a NULL or ragged ``evec``) raises ``ValueError``."""
    df = spark.read.parquet(path)
    if not {"code", "evec"} <= set(df.columns):
        raise ValueError(f"{path}: expected columns (code, evec), got {df.columns}")
    rows = df.select("code", "evec").collect()
    n = len(rows)
    if sorted(r["code"] for r in rows if r["code"] is not None) != list(range(n)):
        raise ValueError(f"{path}: embedding codes are not exactly 0..{n - 1}")
    by_code = {r["code"]: r["evec"] for r in rows}
    vecs = [by_code[c] for c in range(n)]
    if not vecs or any(v is None or len(v) != len(vecs[0]) for v in vecs):
        raise ValueError(f"{path}: embedding rows are missing, NULL or ragged")
    return np.array(vecs, dtype=np.float64)


def load_stack_model(spark: SparkSession, path: str) -> dict:
    """Rebuild the params dict saved by :func:`save_stack_model` —
    feed it straight to ``predict_relational_stack`` (which accepts a
    params dict in place of the TrainResult)."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    arrays = np.load(os.path.join(path, "arrays.npz"))
    layers = []
    for i, lm in enumerate(manifest["layers"]):
        if lm["emb"] == "array":
            emb = arrays[f"layer_{i}_emb"]
        elif lm["emb"] == "frame":
            emb = _read_frame_emb(spark, os.path.join(path, f"layer_{i}_emb"))
        else:
            raise ValueError(f"layer {i}: unknown embedding layout {lm['emb']!r}")
        layers.append(
            {
                "emb": emb,
                "W": arrays[f"layer_{i}_W"],
                "b": arrays[f"layer_{i}_b"],
            }
        )
    return {
        "emb": arrays["emb"],
        "W_head": arrays["W_head"],
        "b_head": arrays["b_head"],
        "layers": layers,
    }
