"""Match scoring: rule-combined score and learned logistic score (SURVEY.md §2.7 F26, §2.9 M5/M6).

Rule score — the reference's combined candidate score
(ref: src/match_utils.py:450-482): cosine base plus weighted boosts, capped at
1.0, rounded to 4 decimals (rounding BEFORE thresholding makes scores
bit-stable across partitioning — SURVEY §7.4.3), with an exact-key
short-circuit to 1.0 (the analogue of its arxiv_exact rule, :446-448): here,
byte-identical normalized doc_text.

Learned score — Spark ML LogisticRegression over the feature vector (the
north-star "logistic match score"; replaces the reference's sklearn
RandomForest, ref: src/modeling_utils.py:207-281, which isn't available and
wouldn't distribute).  Scoring is a broadcast dot product; we also expose the
weights for a pure-column sigmoid scorer that avoids ML pipeline overhead in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .features import FEATURE_COLS

# Reference boost weights (src/match_utils.py:466-473)
W_SIG_OVERLAP = 0.2
W_YEAR_MATCH = 0.1
W_YEAR_CLOSE = 0.05
W_TOKEN_JACC = 0.1
TOKEN_JACC_MIN = 0.6
W_SIGNATURE = 0.2


def rule_score_col(
    base: Column,
    sig_overlap: Column,
    year_match: Column,
    year_close: Column,
    token_jacc: Column,
    signature_match: Column,
) -> Column:
    raw = (
        base
        + W_SIG_OVERLAP * sig_overlap
        + W_YEAR_MATCH * year_match
        + W_YEAR_CLOSE * year_close
        + F.when(token_jacc >= TOKEN_JACC_MIN, F.lit(W_TOKEN_JACC)).otherwise(F.lit(0.0))
        + F.when(signature_match >= 1.0, F.lit(W_SIGNATURE)).otherwise(F.lit(0.0))
    )
    return F.round(F.least(F.lit(1.0), raw), 4)


def score_pairs_rule(feat: DataFrame) -> DataFrame:
    """Feature frame (pair_features + tfidf_cosine) -> + score, reason.

    Exact short-circuit: pair_features frames carry (l_text_sig, l_text_len)
    — an (xxhash64, length) witness of full-text equality that avoids
    shipping document text across the pair joins (round-5 rehearsal: text
    was a leading term of the 21.9 GB score-stage shuffle)."""
    exact = (
        (F.col("l_text_sig") == F.col("r_text_sig"))
        & (F.col("l_text_len") == F.col("r_text_len"))
        & (F.col("l_text_len") > 0)
    )
    year_close = (
        F.when(
            F.col("l_year").isNotNull()
            & F.col("r_year").isNotNull()
            & (F.abs(F.col("l_year") - F.col("r_year")) <= 1),
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
    )
    combined = rule_score_col(
        F.col("tfidf_cosine"),
        F.col("role_tool_overlap"),
        F.col("year_match").cast("double"),
        year_close,
        F.col("jaccard"),
        F.col("signature_match"),
    )
    return feat.withColumn(
        "score", F.when(exact, F.lit(1.0)).otherwise(combined)
    ).withColumn(
        "reason",
        F.when(exact, F.lit("exact_norm")).otherwise(
            F.format_string(
                "rule(base=%.4f,sig=%.3f,year=%.0f,jacc=%.3f,tool=%.0f)",
                F.col("tfidf_cosine"),
                F.col("role_tool_overlap"),
                F.col("year_match").cast("double"),
                F.col("jaccard"),
                F.col("signature_match"),
            )
        ),
    )


def fit_logistic(train: DataFrame, label_col: str = "label"):
    """Fit Spark ML logistic regression on FEATURE_COLS; returns PipelineModel."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="fvec")
    lr = LogisticRegression(
        featuresCol="fvec", labelCol=label_col, maxIter=50, regParam=1e-4,
        standardization=True,
    )
    return Pipeline(stages=[assembler, lr]).fit(
        train.select(*FEATURE_COLS, label_col).na.fill(0)
    )


def fit_random_forest(
    train: DataFrame,
    label_col: str = "label",
    num_trees: int = 200,
    max_depth: int = 15,
    min_instances_per_node: int = 1,
    seed: int = 42,
    balance_classes: bool = False,
):
    """Fit Spark ML RandomForest on FEATURE_COLS — the reference's model
    family (sklearn RandomForestClassifier, ref: src/modeling_utils.py:255-260;
    published best params README.md:355-369).  Same PipelineModel interface as
    fit_logistic, so score_pairs_logistic works unchanged.

    ``balance_classes=True`` emulates sklearn class_weight='balanced' via a
    weightCol: weight = n_rows / (2 * n_rows_of_class), computed in one tiny
    aggregate and applied as a broadcast-joined column (ER labels are heavily
    negative-skewed, so this is material — round-2 ADVICE)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    data = train.select(*FEATURE_COLS, label_col).na.fill(0)
    kwargs = {}
    if balance_classes:
        counts = {
            r["l"]: r["c"]
            for r in data.groupBy(F.col(label_col).alias("l"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        total = sum(counts.values())
        n_classes = max(len(counts), 1)
        wmap = {lbl: total / (n_classes * c) for lbl, c in counts.items()}
        w = F.lit(1.0)
        for lbl, wt in sorted(wmap.items()):
            w = F.when(F.col(label_col) == lbl, F.lit(float(wt))).otherwise(w)
        data = data.withColumn("class_weight", w)
        kwargs["weightCol"] = "class_weight"
    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="fvec")
    rf = RandomForestClassifier(
        featuresCol="fvec",
        labelCol=label_col,
        numTrees=num_trees,
        maxDepth=max_depth,
        minInstancesPerNode=min_instances_per_node,
        seed=seed,
        **kwargs,
    )
    return Pipeline(stages=[assembler, rf]).fit(data)


# Reference grid (ref: src/modeling_utils.py:236-243, 48 combos):
#   n_estimators      [200, 250]  -> num_trees
#   max_depth         [None,15,20]-> max_depth (no None in Spark; 20 stands
#                                    in for unbounded, collapsing 3 -> 2)
#   min_samples_leaf  [1, 2]      -> min_instances_per_node
#   min_samples_split [2, 5]     -> DROPPED: Spark RF has no analog (its
#                                    minInstancesPerNode maps to
#                                    min_samples_leaf, not _split)
#   class_weight ['balanced','balanced_subsample']
#                                 -> balance_classes=True via weightCol in
#                                    EVERY combo: the reference grid never
#                                    fits an unweighted model
#                                    ('balanced_subsample' re-weights per
#                                    bootstrap, which Spark cannot express;
#                                    both collapse to 'balanced')
DEFAULT_RF_GRID: tuple[dict, ...] = tuple(
    {
        "num_trees": n,
        "max_depth": d,
        "min_instances_per_node": m,
        "balance_classes": True,
    }
    for n in (200, 250)
    for d in (15, 20)
    for m in (1, 2)
)


def tune_model(
    train: DataFrame,
    val: DataFrame,
    family: str = "rf",
    grid: tuple[dict, ...] | None = None,
    label_col: str = "label",
    seed: int = 42,
    search: str = "grid",
    n_trials: int = 30,
    parallelism: int = 1,
):
    """Hyperparameter search with a PREDEFINED train/val split — the
    reference tunes with GridSearchCV over a PredefinedSplit (fit on train
    rows, score on val rows; ref: src/modeling_utils.py:207-281), which
    Spark's random-split CrossValidator cannot honor, so this is a small
    driver loop of distributed fits: one fit per combo on ``train``,
    POSITIVE-CLASS F1 measured on ``val`` (sklearn scoring='f1' is binary
    pos-label F1, NOT weighted multiclass — round-2 ADVICE), best combo wins
    (ties -> first in trial order; all fits share ``seed``).

    ``search="grid"`` tries every combo; ``search="random"`` is a seeded
    without-replacement sample of ``n_trials`` combos from the grid,
    deterministic under ``seed``; ``search="adaptive"`` is the closer analog
    of the reference's Optuna study (notebooks/modeling.ipynb cell 12, 30
    trials — TPE adapts trial-by-trial): explore half the budget at random,
    then spend the rest on one-hyperparameter neighbors of the current top
    quartile, re-ranking between batches.  Fully deterministic under
    ``seed`` (md5 tie-breaks, no Python hash randomization) — unlike TPE
    itself, so results are reproducible across runs and engines.

    Returns (best_model, best_params, results) where results is
    [(params, val_f1), ...] in trial order.
    """
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    if grid is None:
        grid = DEFAULT_RF_GRID if family == "rf" else (
            {"reg_param": 1e-4}, {"reg_param": 1e-2}, {"reg_param": 1.0},
        )
    full_grid = grid
    if search == "random":
        import random as _random

        rng = _random.Random(seed)
        idx = list(range(len(grid)))
        rng.shuffle(idx)
        grid = tuple(grid[i] for i in sorted(idx[: min(n_trials, len(grid))]))
    elif search not in ("grid", "adaptive"):
        raise ValueError(f"unknown search mode {search!r}")
    evaluator = MulticlassClassificationEvaluator(
        labelCol=label_col, predictionCol="prediction",
        metricName="fMeasureByLabel", metricLabel=1.0, beta=1.0,
    )
    val_clean = val.select(*FEATURE_COLS, label_col).na.fill(0)

    def fit_and_score(params: dict) -> tuple:
        if family == "rf":
            model = fit_random_forest(train, label_col=label_col, seed=seed, **params)
        elif family == "logistic":
            from pyspark.ml import Pipeline
            from pyspark.ml.classification import LogisticRegression
            from pyspark.ml.feature import VectorAssembler

            assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="fvec")
            lr = LogisticRegression(
                featuresCol="fvec", labelCol=label_col, maxIter=50,
                regParam=params.get("reg_param", 1e-4), standardization=True,
            )
            model = Pipeline(stages=[assembler, lr]).fit(
                train.select(*FEATURE_COLS, label_col).na.fill(0)
            )
        else:
            raise ValueError(f"unknown model family {family!r}")
        return model, float(evaluator.evaluate(model.transform(val_clean)))

    if search == "adaptive":
        import hashlib
        import random as _random

        def _key(p: dict) -> str:
            return repr(sorted(p.items()))

        def _tiebreak(p: dict) -> str:
            return hashlib.md5(f"{_key(p)}#{seed}".encode()).hexdigest()

        def run_batch(batch: list[dict]) -> list[tuple[dict, float]]:
            # score-only (model dropped) — the winner is refit once at the
            # end, same memory discipline as the parallel path below
            if parallelism > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=parallelism) as pool:
                    f1s = list(pool.map(lambda p: fit_and_score(p)[1], batch))
                return list(zip(batch, f1s))
            return [(p, fit_and_score(p)[1]) for p in batch]

        budget = min(n_trials, len(full_grid))
        rng = _random.Random(seed)
        idx = list(range(len(full_grid)))
        rng.shuffle(idx)
        explore = [full_grid[i] for i in sorted(idx[: max(1, budget // 2)])]
        results = run_batch(explore)
        tried = {_key(p) for p in explore}
        while len(results) < budget:
            ranked = sorted(results, key=lambda pf: (-pf[1], _tiebreak(pf[0])))
            top = [p for p, _ in ranked[: max(1, len(ranked) // 4)]]
            # one-hyperparameter neighbors of the current top quartile,
            # ordered by (parent rank, seeded md5) — deterministic
            cands: list[tuple[int, str, dict]] = []
            for parent_rank, t in enumerate(top):
                for g in full_grid:
                    k = _key(g)
                    if k in tried:
                        continue
                    diff = [d for d in set(t) | set(g) if t.get(d) != g.get(d)]
                    if len(diff) == 1:
                        cands.append((parent_rank, _tiebreak(g), g))
            if not cands:
                # exploitation exhausted: fall back to unexplored combos
                cands = [
                    (0, _tiebreak(g), g) for g in full_grid if _key(g) not in tried
                ]
                if not cands:
                    break
            cands.sort(key=lambda c: (c[0], c[1]))
            batch, seen_batch = [], set()
            for _, _, g in cands:
                k = _key(g)
                if k in seen_batch:
                    continue
                batch.append(g)
                seen_batch.add(k)
                if len(batch) >= max(1, parallelism) or len(results) + len(batch) >= budget:
                    break
            results.extend(run_batch(batch))
            tried.update(_key(p) for p in batch)
        best_f1 = max(f1 for _, f1 in results)
        best_params = next(p for p, f1 in results if f1 == best_f1)
        best_model, _ = fit_and_score(best_params)
        return best_model, best_params, results

    # memory discipline: only the best-so-far model is retained.  A 16-combo
    # RF grid holds 16 x 250-tree models if every fit stays referenced —
    # sequential mode streams them, parallel mode scores-then-refits the
    # winner once (one extra fit buys bounded driver/JVM memory).
    if parallelism > 1:
        # concurrent Spark jobs from driver threads — the same mechanism
        # Spark ML CrossValidator's `parallelism` param uses; fits share the
        # cluster fairly and results stay in trial order
        from concurrent.futures import ThreadPoolExecutor

        def score_only(params: dict) -> float:
            _, f1 = fit_and_score(params)
            return f1

        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            f1s = list(pool.map(score_only, grid))
        results = list(zip(grid, f1s))
        best_params = max(zip(grid, f1s), key=lambda pf: pf[1])[0] if grid else None
        # ties: first in trial order wins, like the sequential path
        for params, f1 in results:
            if f1 == max(f1s):
                best_params = params
                break
        best_model, _ = fit_and_score(best_params)
        return best_model, best_params, results
    results = []
    best = None
    for params in grid:
        model, f1 = fit_and_score(params)
        results.append((params, f1))
        if best is None or f1 > best[1]:
            best = (model, f1, params)
        else:
            del model
    return best[0], best[2], results


def feature_importance_table(spark, model, model_family: str = "rf") -> DataFrame:
    """(feature, importance, model_family) — the analogue of the reference's
    published feature-importance table (README.md:482-490).  RF: Gini
    importances (sum to 1); logistic: coefficients."""
    stage = model.stages[-1]
    if model_family == "rf":
        vals = list(stage.featureImportances.toArray())
    else:
        vals = list(stage.coefficients.toArray())
    rows = [(f, float(v), model_family) for f, v in zip(FEATURE_COLS, vals)]
    rows.sort(key=lambda r: (-abs(r[1]), r[0]))
    return spark.createDataFrame(
        rows, "feature string, importance double, model_family string"
    )


def score_pairs_logistic(model, feat: DataFrame) -> DataFrame:
    """Attach model_score = P(match) from the fitted pipeline.

    Logistic pipelines score through the pure-column sigmoid (broadcast
    weights — the M6 fast path): P(match) for binary logistic regression IS
    sigmoid(X.w + b), so this is the same number without VectorAssembler /
    vector-UDT construction per row (parity < 1e-9 unrounded, pinned by
    tests/test_model_scoring.py::test_sigmoid_fast_path_matches_ml_pipeline).
    Non-logistic pipelines (RandomForest — no closed column form) keep the
    ML transform path.
    """
    from pyspark.ml.classification import LogisticRegressionModel

    filled = feat.na.fill(0, subset=FEATURE_COLS)
    if isinstance(getattr(model, "stages", [None])[-1], LogisticRegressionModel):
        w, b = logistic_weights_scorer(model)
        return filled.withColumn("model_score", F.round(sigmoid_score_col(w, b), 6))

    from pyspark.ml.functions import vector_to_array

    scored = model.transform(filled)
    return scored.withColumn(
        "model_score", F.round(vector_to_array("probability")[1], 6)
    ).drop("fvec", "rawPrediction", "probability", "prediction")


def logistic_weights_scorer(model) -> tuple[list[float], float]:
    """Extract (coefficients, intercept) for the broadcast-sigmoid fast path."""
    lr_model = model.stages[-1]
    return list(lr_model.coefficients.toArray()), float(lr_model.intercept)


def sigmoid_score_col(weights: list[float], intercept: float) -> Column:
    """Pure-column sigmoid(X·w + b) — no ML pipeline in the hot path."""
    z = F.lit(intercept)
    for w, c in zip(weights, FEATURE_COLS):
        z = z + F.lit(w) * F.coalesce(F.col(c).cast("double"), F.lit(0.0))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
