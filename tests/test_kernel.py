"""The numpy scorers' Arrow kernels on Python workers that cannot import
the package: a plain ``SparkSession`` (no engine confs, no warm-fork
daemon, cwd outside the repo, no PYTHONPATH) must score exactly what
the engine session scores."""

from __future__ import annotations

import json
import os
import pathlib
import pickle
import subprocess
import sys

import numpy as np

from financial_anomaly_detection_spark.ml.autoencoder import AutoencoderScorer
from financial_anomaly_detection_spark.ml.iforest import IsolationForestModel
from financial_anomaly_detection_spark.ml.lof import LOFNoveltyModel
from financial_anomaly_detection_spark.ml.reconstruction import ReconstructionScorer

ROOT = pathlib.Path(__file__).resolve().parents[1]
N_ROWS, DIM = 120, 40  # DIM > 32: the reconstruction scorer's Arrow path

# Run by a fresh interpreter: ``argv`` = repo root, models pickle,
# rows .npy, output json. Only this driver process imports the package.
PLAIN_DRIVER = """
import json, pathlib, pickle, sys
import numpy as np
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]").appName("plain-driver")
         .config("spark.ui.enabled", "false").getOrCreate())

def probe(batches):
    import pandas as pd
    for pdf in batches:
        try:
            import financial_anomaly_detection_spark  # noqa: F401
            found = True
        except ImportError:
            found = False
        yield pd.DataFrame({"found": [found]})

found = [r.found for r in spark.range(2, numPartitions=2).mapInPandas(probe, "found boolean").collect()]
models = pickle.loads(pathlib.Path(sys.argv[2]).read_bytes())
X = np.load(sys.argv[3])
df = spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)], "id long, vec array<double>").coalesce(1)
cols = [getattr(m, method)(df, "vec").alias(name) for name, (m, method) in sorted(models.items())]
rows = df.select("id", *cols).orderBy("id").collect()
pathlib.Path(sys.argv[4]).write_text(json.dumps({"worker_imports_package": found, "rows": [list(r) for r in rows]}))
spark.stop()
"""


def _frame(spark, X):
    return spark.createDataFrame([(i, x.tolist()) for i, x in enumerate(X)], "id long, vec array<double>")


def _models(spark, X):
    df = _frame(spark, X)
    return {
        "iforest": (IsolationForestModel(n_estimators=20, seed=3).fit_pool(X), "score_col"),
        "lof": (LOFNoveltyModel(seed=3).fit_pool(X), "lof_col"),
        "recon": (ReconstructionScorer(k=4).fit(df, "vec", pool=X), "mse_col"),
        "autoencoder": (AutoencoderScorer(hidden=(8, 4, 8), epochs=2, seed=3).fit(df, "vec"), "mse_col"),
    }


def test_kernels_score_alike_where_workers_cannot_import_the_package(spark, tmp_path):
    X = np.random.default_rng(11).normal(size=(N_ROWS, DIM))
    models = _models(spark, X)
    df = _frame(spark, X).coalesce(1)  # one Arrow batch on both sides
    cols = [getattr(m, method)(df, "vec").alias(name) for name, (m, method) in sorted(models.items())]
    want = [list(r) for r in df.select("id", *cols).orderBy("id").collect()]

    paths = {name: tmp_path / name for name in ("driver.py", "models.pkl", "rows.npy", "out.json")}
    paths["driver.py"].write_text(PLAIN_DRIVER)
    paths["models.pkl"].write_bytes(pickle.dumps(models))
    np.save(paths["rows.npy"], X)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(paths["driver.py"]), str(ROOT), str(paths["models.pkl"]),
         str(paths["rows.npy"]), str(paths["out.json"])],
        cwd=tmp_path, env=env, timeout=600, capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(paths["out.json"].read_text())
    assert got["worker_imports_package"] == [False, False]
    assert got["rows"] == want
