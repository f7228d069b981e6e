"""End-to-end plan tests (§3.1-§3.3) on a synthetic reference-schema
CSV with an injected anomaly block mirroring the reference's training
data shape (FIXTURES.md §1): round-amount, early-morning anomalies
must out-rank normal rows."""

from __future__ import annotations

import ast
import csv
import pathlib
import random
import re
from typing import Iterator

import pytest
from pyspark.sql import functions as F

from financial_anomaly_detection_spark.plans.scoring_plan import (
    prepare_transaction_features,
    score_transactions,
    train_from_csv,
)
from financial_anomaly_detection_spark.sources.readers import read_transactions_csv

N_NORMAL, N_ANOM = 2000, 30


@pytest.fixture(scope="module")
def tx_csv(tmp_path_factory):
    """Synthetic transactions in the reference CSV shape: lognormal
    amounts, business-hour timestamps; anomalies at round amounts
    {5000,10000,20000,50000} in the small hours."""
    rng = random.Random(42)
    path = tmp_path_factory.mktemp("data") / "transactions.csv"
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["timestamp", "transaction_id", "customer_id", "merchant_id", "amount", "channel", "location"]
        )
        for i in range(N_NORMAL):
            day = 1 + rng.randrange(28)
            hour = 6 + rng.randrange(16)
            amount = round(rng.lognormvariate(5.3, 0.5), 2)
            w.writerow(
                [
                    f"2025-05-{day:02d}T{hour:02d}:{rng.randrange(60):02d}:00Z",
                    str(1000 + i),
                    str(100 + rng.randrange(30)),
                    str(501 + rng.randrange(4)),
                    amount,
                    rng.choice(["pos", "mobile_money", "bank_transfer", "card"]),
                    rng.choice(["Harare", "Bulawayo", "Mutare", "Victoria Falls", "Marondera", "Gweru"]),
                ]
            )
        for i in range(N_ANOM):
            day = 1 + rng.randrange(28)
            w.writerow(
                [
                    f"2025-05-{day:02d}T{rng.randrange(4):02d}:30:00Z",
                    str(90000 + i),
                    str(100 + rng.randrange(30)),
                    str(501 + rng.randrange(4)),
                    rng.choice([5000.0, 10000.0, 20000.0, 50000.0]),
                    "card",
                    rng.choice(["Mutare", "Gweru"]),
                ]
            )
        # edge rows: garbage timestamp, null amount (dropped by P2/P3)
        w.writerow(["not-a-ts", "99998", "100", "501", 10.0, "pos", "Harare"])
        w.writerow(["2025-05-02T10:00:00Z", "99999", "100", "501", "", "pos", "Harare"])
    return str(path)


@pytest.fixture(scope="module")
def trained(spark, tx_csv, tmp_path_factory):
    """(ensemble, bundle dir) trained once on ``tx_csv``."""
    model_dir = str(tmp_path_factory.mktemp("bundle"))
    return train_from_csv(spark, tx_csv, model_dir, seed=42), model_dir


def test_train_score_end_to_end(spark, tx_csv, trained):
    ens, model_dir = trained

    tx = read_transactions_csv(spark, tx_csv)
    scored = score_transactions(spark, tx, ensemble=ens).cache()

    # P2/P3: the two malformed rows are dropped, everything else scored
    assert scored.count() == N_NORMAL + N_ANOM

    # injected anomalies must out-rank normal rows (§5.2 ranking check):
    # all anomaly ids in the top-scoring slice by aggregated_score
    top = scored.orderBy(F.desc("aggregated_score")).limit(N_ANOM * 3).collect()
    top_ids = {r["transaction_id"] for r in top}
    anom_ids = {str(90000 + i) for i in range(N_ANOM)}
    found = anom_ids & top_ids
    assert len(found) >= N_ANOM * 0.9, f"missed anomalies: {anom_ids - top_ids}"

    # every injected anomaly hits the High bucket (amount >= 10000 forces
    # >= 0.85 via F11; 5000-amount rows ride rules + models)
    high = {
        r["transaction_id"]
        for r in scored.filter(F.col("risk_level") == "High").collect()
    }
    big = {str(90000 + i) for i in range(N_ANOM)}
    assert len(big & high) >= N_ANOM * 0.9

    # bundle round-trip scores identically on a fresh load (S6/M12)
    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble

    reloaded = score_transactions(spark, tx, ensemble=AnomalyEnsemble.load(spark, model_dir))
    a = scored.orderBy("transaction_id").collect()
    b = reloaded.orderBy("transaction_id").collect()
    assert a == b


def test_score_drops_rows_the_reference_rejects(spark, trained, tmp_path):
    """P4/P5 (app.py:69-79): a negative amount and a non-numeric id are
    rejected by the stream's predicate, so batch scoring skips them."""
    ens, _ = trained
    p = tmp_path / "rejects.csv"
    p.write_text(
        "timestamp,transaction_id,customer_id,merchant_id,amount,channel,location\n"
        "2025-05-02T10:00:00Z,1,100,501,-5.0,pos,Harare\n"
        "2025-05-02T10:00:00Z,x2,100,501,5.0,pos,Harare\n"
        "2025-05-02T11:00:00Z,3,100,501,5.0,pos,Harare\n"
    )
    scored = score_transactions(spark, read_transactions_csv(spark, str(p)), ensemble=ens)
    assert [r["transaction_id"] for r in scored.collect()] == ["3"]


def test_train_raises_on_empty_csv(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("timestamp,transaction_id,customer_id,merchant_id,amount,channel,location\n")
    with pytest.raises(ValueError, match="no rows"):
        train_from_csv(spark, str(p), str(tmp_path / "m"))


def test_building_a_scoring_plan_runs_no_spark_job(spark, tx_csv, trained, tmp_path):
    """Plan construction is lazy: the batch plan, the ensemble's kernel
    plan and the stream plan are each built without one Spark job (a
    partition probe on the window's shuffle output would run its
    upstream stages)."""
    from financial_anomaly_detection_spark.operators.profiles import (
        customer_profile,
        merchant_profile,
    )
    from financial_anomaly_detection_spark.sources.readers import (
        read_transactions_json_stream,
    )
    from financial_anomaly_detection_spark.streaming.score_stream import (
        build_scoring_stream,
    )

    ens, _ = trained
    sc = spark.sparkContext
    tx = read_transactions_csv(spark, tx_csv)
    features = prepare_transaction_features(tx)
    stream = read_transactions_json_stream(spark, str(tmp_path))
    anchor = "2025-06-01 00:00:00"

    def jobs_run_by(build, group: str) -> list[int]:
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return list(sc.statusTracker().getJobIdsForGroup(group))

    plans = {
        "score_transactions": lambda: score_transactions(spark, tx, ensemble=ens),
        "ensemble_transform": lambda: ens.transform(features, id_col="transaction_id"),
        "build_scoring_stream": lambda: build_scoring_stream(
            stream, customer_profile(tx, anchor), merchant_profile(tx, anchor)
        ),
    }
    ran = {name: jobs_run_by(build, f"plan-build-{name}") for name, build in plans.items()}
    assert ran == {name: [] for name in plans}
    # not vacuous: an action run inside a job group is counted
    assert jobs_run_by(lambda: tx.limit(1).collect(), "plan-build-action")


def test_ensemble_runs_its_three_kernels_in_one_python_stage(spark, tx_csv, trained):
    """The IForest, LOF and reconstruction kernels share one
    ``ArrowEvalPython``, and no kernel is unrolled into per-element
    Column arithmetic over the feature vector."""
    ens, _ = trained
    features = prepare_transaction_features(read_transactions_csv(spark, tx_csv))
    plan = ens.transform(features, id_col="transaction_id")._jdf.queryExecution().optimizedPlan().toString()
    unrolled = re.findall(r"UDF\(features#\d+\)\[\d+\]", plan)
    assert not unrolled, f"{len(unrolled)} per-element reads of the feature vector"
    stages = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
    assert len(stages) == 1, stages
    assert all(f"{udf}(" in stages[0] for udf in ("_score", "_lof", "_mse")), stages[0]


def _exchanges(df) -> list[str]:
    """The Exchange nodes of ``df``'s physical plan, top down, with
    expression ids stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        re.sub(r"#\d+|\[plan_id=\d+\]", "", line[line.index("Exchange"):]).strip()
        for line in plan.splitlines()
        if "Exchange" in line
    ]


def test_benchmark_reaches_its_product_names(spark, tx_csv, trained, monkeypatch):
    """perfbench/workloads.py imports these names and instruments these
    methods; a refactor that renames one must fail here, not at
    benchmark time."""
    import importlib

    from financial_anomaly_detection_spark.ml.ensemble import AnomalyEnsemble
    from financial_anomaly_detection_spark.ml.iforest import IsolationForestModel
    from financial_anomaly_detection_spark.ml.lof import LOFNoveltyModel
    from financial_anomaly_detection_spark.ml.reconstruction import ReconstructionScorer
    from financial_anomaly_detection_spark.plans import scoring_plan

    pkg = "financial_anomaly_detection_spark"
    for module, names in {
        "session": ["get_spark"],
        "schemas": ["TRANSACTION_SCHEMA"],
        "operators.partitioning": ["spread_narrow"],
        "operators.profiles": ["customer_profile", "merchant_profile"],
        "plans.scoring_plan": [
            "prepare_transaction_features", "score_transactions", "train_from_csv",
            "with_window_profiles",
        ],
        "sources.readers": ["read_transactions_csv", "read_transactions_json_stream"],
        "sources.sinks": ["write_scores_parquet", "foreach_batch_parquet"],
        "streaming.score_stream": ["build_scoring_stream", "split_valid_invalid"],
    }.items():
        mod = importlib.import_module(f"{pkg}.{module}")
        for name in names:
            assert hasattr(mod, name), f"{module}.{name}"
    for cls, method in (
        (AnomalyEnsemble, "_fit_scorers"),
        (AnomalyEnsemble, "save"),
        (AnomalyEnsemble, "load"),
        (AnomalyEnsemble, "transform"),
        (IsolationForestModel, "fit_pool"),
        (LOFNoveltyModel, "fit_pool"),
        (ReconstructionScorer, "fit"),
    ):
        assert callable(getattr(cls, method)), f"{cls.__name__}.{method}"
    ens = AnomalyEnsemble()
    assert hasattr(ens, "feature_model")
    for scorer, method in ((ens.iforest, "decision_col"), (ens.lof, "decision_col"), (ens.recon, "score_col")):
        assert callable(getattr(scorer, method))

    # The kernels run spread over every core: a round-robin exchange
    # sits between the window's shuffle and the Arrow kernels. The
    # traced run's prefix (spread_narrow over the MLlib transform)
    # plans the same exchanges, so its per-layer numbers describe the
    # product.
    from financial_anomaly_detection_spark.operators.partitioning import spread_narrow

    tx = read_transactions_csv(spark, tx_csv)
    trained_ens, _ = trained
    features = scoring_plan.prepare_transaction_features(tx)
    scored = trained_ens.transform(features, id_col="transaction_id")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    spread = f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"
    assert plan.index("ArrowEvalPython") < plan.index(spread) < plan.index("Window")
    prefix = spread_narrow(trained_ens.feature_model.transform(features))
    assert _exchanges(prefix) == _exchanges(scored)
    assert any(spread in e for e in _exchanges(prefix))

    # The traced run times the window stage by patching the module
    # global; prepare_transaction_features must look it up there.
    assert "cust_avg_amount" in scoring_plan.prepare_transaction_features(tx).columns
    monkeypatch.setattr(scoring_plan, "with_window_profiles", lambda df: df)
    assert "cust_avg_amount" not in scoring_plan.prepare_transaction_features(tx).columns


def _is_register(decorator: ast.expr) -> bool:
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _names(node: ast.AST) -> Iterator[str]:
    """Every identifier ``node`` names: variables, attributes, imported
    names, and string literals that are a bare identifier (getattr,
    monkeypatch and hasattr targets)."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            yield n.value


def _targets(top: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a function or class, or
    the targets of ``NAME = ...``, ``A, B = ...`` and ``NAME: T = ...``."""
    if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [top.name]
    if isinstance(top, ast.Assign):
        targets = top.targets
    elif isinstance(top, ast.AnnAssign):
        targets = [top.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def test_every_package_definition_is_named_somewhere():
    """No top-level function, class or assigned name in the package is
    dead: each is named somewhere outside its own statement and the
    ``__init__`` re-exports, searching the package, tests/, perfbench/,
    bench.py and __spark_entry__.py. The strings of an ``__all__`` list
    are not a use. A use inside a dead definition is not a use either:
    the check drops those and runs again until nothing more falls, so a
    whole chain of dead code fails, not only its head. Queries
    registered with ``@register`` are reached through the registry and
    count as used. A definition under ``streaming/``, ``ml/`` or
    ``sources/`` or in ``operators/profiles.py`` (the real-time path,
    the models, the readers and sinks, and the profiles) must be named
    outside tests/: code that only its own test runs is not kept. The
    JDBC pair ``read_jdbc_table``/``write_scores_jdbc`` is exempt: it is
    the engine's form of the reference's MySQL profile reads and
    ``anomalies_log`` inserts, which no workload runs."""
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "financial_anomaly_detection_spark"
    tests = root / "tests"
    held = (pkg / "streaming", pkg / "ml", pkg / "sources", pkg / "operators" / "profiles.py")
    jdbc = {"read_jdbc_table", "write_scores_jdbc"}
    paths = [*pkg.rglob("*.py"), *tests.rglob("*.py"), *(root / "perfbench").rglob("*.py")]
    paths += [root / "bench.py", root / "__spark_entry__.py"]
    used: dict[str, list[tuple[pathlib.Path, ast.stmt]]] = {}
    defs: list[tuple[pathlib.Path, ast.stmt, list[str]]] = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            if path.name == "__init__.py" and isinstance(top, ast.ImportFrom):
                continue  # a re-export is not a use
            if "__all__" in _targets(top):
                continue  # an export list is not a use
            for name in _names(top):
                used.setdefault(name, []).append((path, top))
            names = [n for n in _targets(top) if not (n.startswith("__") and n.endswith("__"))]
            if pkg in path.parents and names and not any(_is_register(d) for d in getattr(top, "decorator_list", [])):
                defs.append((path, top, names))

    def counts(path: pathlib.Path, name: str, user_path: pathlib.Path) -> bool:
        is_held = name not in jdbc and any(path == h or h in path.parents for h in held)
        return not (is_held and tests in user_path.parents)

    dead: dict[tuple[int, str], str] = {}
    while True:
        gone = {id(top) for _, top, names in defs if all((id(top), n) in dead for n in names)}
        fallen = {
            (id(top), name): f"{path.relative_to(root)}:{top.lineno} {name}"
            for path, top, names in defs
            for name in names
            if (id(top), name) not in dead
            and not any(
                user is not top and id(user) not in gone and counts(path, name, user_path)
                for user_path, user in used.get(name, [])
            )
        }
        if not fallen:
            break
        dead.update(fallen)
    assert not dead, "named nowhere: " + ", ".join(dead.values())


def test_one_allocator_tuning_and_one_ml_kernel_udf():
    """The glibc allocator tuning is called only in
    ``memtune.tune_malloc`` and the kernel builder ``ml/kernel.py``, and
    nothing else under ``ml/`` uses ``pandas_udf`` — so a per-scorer
    UDF or allocator preamble cannot come back."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "financial_anomaly_detection_spark"
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for top in ast.parse(path.read_text(), str(path)).body:
            names = set(_names(top))
            where = f"{rel}:{getattr(top, 'name', top.lineno)}"
            if "mallopt" in names and where not in ("memtune.py:tune_malloc", "ml/kernel.py:numpy_kernel"):
                stray.append(f"{where} calls mallopt")
            if "pandas_udf" in names and rel.startswith("ml/") and rel != "ml/kernel.py":
                stray.append(f"{where} uses pandas_udf")
    assert not stray, "; ".join(stray)


_ICU_CASE_MAPPINGS = {"lower", "upper", "initcap", "lcase", "ucase"}


def _maps_case(call: ast.Call) -> bool:
    """``call`` is ``F.lower(...)``, a bare ``lower(...)``, or passes SQL
    text that calls one of the case mappings (``F.expr("lower(c)")``)."""
    f = call.func
    is_f = isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) and f.value.id == "F"
    name = f.attr if is_f else getattr(f, "id", None)
    sql = re.compile(r"\b(%s)\s*\(" % "|".join(_ICU_CASE_MAPPINGS), re.IGNORECASE)
    return name in _ICU_CASE_MAPPINGS or any(
        isinstance(a, ast.Constant) and isinstance(a.value, str) and sql.search(a.value) for a in call.args
    )


def test_no_icu_case_mapping_on_the_scoring_path():
    """Spark 4.1's ``lower``/``upper``/``initcap`` go through ICU, whose
    first call in a JVM stalls every task of a cold pass for ~1.5-2 s
    on one class initializer; the scoring path folds case without
    them (``functions/scoring._rule_conditions``)."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "financial_anomaly_detection_spark"
    paths = [pkg / "functions/scoring.py", pkg / "streaming/score_stream.py", pkg / "plans/scoring_plan.py"]
    paths += sorted((pkg / "ml").rglob("*.py"))
    stray = {
        f"{path.relative_to(pkg).as_posix()}:{getattr(top, 'name', top.lineno)}"
        for path in paths
        for top in ast.parse(path.read_text(), str(path)).body
        for n in ast.walk(top)
        if isinstance(n, ast.Call) and _maps_case(n)
    }
    assert not stray, "ICU case mapping in " + ", ".join(sorted(stray))
