"""Declarative check-suite compilation from reference-style JSON configs.

The reference instantiates detectors by ``eval()``-ing class-name strings
from a JSON config (/root/reference/src/consumer.py:266-274 — an
anti-pattern this engine deliberately avoids): a config names algorithms
(``anomaly_detection_alg``) and per-algorithm parameter dicts
(``anomaly_detection_conf``) with keys like UL/LL/warning_stages/N/X
(README.md:68-92). :func:`compile_config` accepts THAT SAME config shape
and compiles it to DataFrame transformations — a reference user can point
their existing JSON at this engine.

Input contract: a DataFrame in the reference's message shape —
``(ts, ftr_vector array<double>)`` plus a series key column — or any
table with an explicit numeric column. Each detector contributes a
``code_<i>_<name>`` int column (OK=1/Warning=0/Error=-1/Undefined=2);
``status_code`` is the OR-combination (min), matching how the reference
reports a record that any detector flagged.

Plan shape: a flat fan-out, as in the reference consumer, which hands
each message to every detector independently (consumer.py:184-191).
Every detector reads the base frame (after its own time filter), emits
narrow ``(keys, order, code[, suggested_value])`` rows, and joins back
onto the base exactly once; one projection then turns missing verdicts
into Undefined. The plan grows linearly with the number of detectors,
and a ``Combination`` stack compiles its sub-detectors the same way.

Every reference algorithm compiles, including the model-backed ones
(GAN -> neural.gan_check, Trend_Classification -> neural.trend_nn_check,
RRCF_trees -> rrcf.rrcf_stream_check, both nets hand-rolled numpy since
round 4; fb_Prophet -> forecast.forecast_retrain_check, the reference's
full detector loop with the built-in changepoint+harmonic forecaster
standing in for the Stan-based fbprophet model). Unknown algorithm
names raise ``UnsupportedAlgorithm`` — never silently skipped.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.session import local_frame


class UnsupportedAlgorithm(ValueError):
    pass




def _clean_alg(name: str) -> str:
    return name.strip().removesuffix("()")


def _load_train_vectors(path: str | None):
    """Reference train-file format (CSV with 'timestamp, ftr_vector'
    where ftr_vector is a stringified list — isolation_forest.py:70-73):
    -> numpy matrix for clustering_retrain_check's initial model, or None
    when no file is configured/present."""
    import ast
    import csv
    import os

    if not path or not os.path.exists(path):
        return None
    import numpy as np

    rows = []
    with open(path) as f:
        for rec in csv.DictReader(f):
            rows.append(ast.literal_eval(rec["ftr_vector"]))
    return np.asarray(rows, dtype=float) if rows else None


def _gan_train_frame(spark, path: str | None, n_shifts: int, feats):
    """The GAN's train CSV — ``timestamp, ftr_vector`` columns with
    SCALAR ftr_vector values (gan.py:254-258 reads them astype(float))
    — expanded into the constructed (value, shift_1..N) training frame
    so :func:`neural.gan_check` derives its normalization scalars and
    fits from the train set, never the scored stream (ADVICE r4).
    Returns None when the config carries no train_data; raises when the
    key names a missing file (the reference's read_csv would too).
    Normalize-then-shift vs shift-then-normalize commute (lagging is
    elementwise), and every raw value appears in some feature cell, so
    the global min/max/avg match the reference's scalar-series ones."""
    if not path:
        return None
    import os

    if not os.path.exists(path):
        raise FileNotFoundError(f"GAN train_data file not found: {path}")
    import numpy as np
    import pandas as pd

    vals = (pd.read_csv(path, usecols=(0, 1))["ftr_vector"]
            .astype(float).to_numpy())
    if len(vals) <= n_shifts:
        # a NAMED train set that is too short to build one training row
        # must not silently fall into the self-training path (the
        # reference's keras fit would fail on an empty batch too)
        raise ValueError(
            f"GAN train_data {path!r} has {len(vals)} rows <= N_shifts="
            f"{n_shifts}: not enough to construct one training vector")
    if n_shifts:
        M = np.stack([vals[n_shifts - k: len(vals) - k]
                      for k in range(0, n_shifts + 1)], axis=1)
    else:
        M = vals.reshape(-1, 1)
    return local_frame(spark, M.tolist(),
                       ", ".join(f"`{c}` double" for c in feats))


def _load_prophet_history(path: str | None, keep_last: int):
    """prophet.py's warm-start history (a Prophet training CSV with
    ``ds`` datetime / ``y`` value columns, read at configure time and
    trimmed to the trailing ``samples_in_store`` rows —
    /root/reference/src/algorithms/prophet.py:53-57) -> list of
    (epoch_seconds, y). A config without the key returns None; a
    configured-but-missing file raises, exactly where the reference's
    read_csv would."""
    if not path:
        return None
    import pandas as pd

    h = pd.read_csv(path).iloc[-int(keep_last):]
    ts = pd.to_datetime(h["ds"]).astype("int64") / 1e9
    return list(zip(ts.tolist(), h["y"].astype(float).tolist()))


def _time_filter_spec(spec):
    """The reference's per-detector time filter config — a string the
    reference eval()s into (target_time, tolerance) triples
    (consumer.py:184-186). Accepts that string form (literal_eval, not
    eval) or an already-parsed pair; None/missing = no filter."""
    import ast

    if spec is None:
        return None
    if isinstance(spec, str):
        spec = ast.literal_eval(spec)
    target, tol = spec
    return tuple(target), tuple(tol)


def _join_verdicts(
    df: DataFrame, detectors, *, keys: str, order: str,
    suggested: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Flat fan-out, the reference consumer's shape (consumer.py:184-191):
    every ``(name, transform, time_filter)`` detector reads the base
    ``df``, emits narrow ``(keys, order, code)`` rows (plus the repair
    ``suggested_value`` of a normalization-wrapped detector when
    ``suggested``), and is joined back onto ``df`` exactly once. Detectors
    never see each other's verdicts, so the plan grows linearly with
    their number. Rows a detector never saw (time filter, or warm-up rows
    a feature construction dropped, e.g. GAN's shift windows) carry no
    verdict and coalesce to Undefined(2) in one final projection."""
    from pyspark.sql.types import NumericType

    from anomaly_detection_spark.operators.constraints import (
        time_of_day_predicate,
    )

    ts = F.col(order)
    if isinstance(df.schema[order].dataType, NumericType):
        ts = F.timestamp_seconds(ts)
    out, names = df, []
    for name, t, flt in detectors:
        # filtered-out messages are never INSERTED into this detector
        # (consumer.py:184-191): its recurrences and windows advance only
        # on in-window rows
        checked = t(df if flt is None
                    else df.filter(time_of_day_predicate(ts, *flt)))
        picked = [F.col("code").alias(name)]
        if suggested and "suggested_value" in checked.columns:
            picked.append(F.col("suggested_value").alias(
                name.replace("code_", "suggested_value_", 1)))
        out = out.join(checked.select(keys, order, *picked),
                       on=[keys, order], how="left")
        names.append(name)
    return out.withColumns(
        {n: F.coalesce(F.col(n), F.lit(2)) for n in names}), names


def compile_detector(
    alg: str, conf: dict, *, keys, order: str, value: str,
) -> Callable[[DataFrame], DataFrame]:
    """One detector config -> a transform df -> df + 'code' column.
    A ``normalization`` key (LastNAverage / PeriodicLastNAverage,
    anomaly_detection.py:178-190) wraps the detector with the
    reference's repair hook: flagged rows additionally carry a
    ``suggested_value`` column (output.py:127-137 semantics)."""
    base = _compile_base(alg, conf, keys=keys, order=order, value=value)
    norm = conf.get("normalization")
    if norm is None:
        return base
    kind = _clean_alg(norm)
    if kind not in ("LastNAverage", "PeriodicLastNAverage"):
        raise UnsupportedAlgorithm(f"unknown normalization {kind!r}")
    nconf = conf.get("normalization_conf") or {}

    def t(df):
        from anomaly_detection_spark.operators.sequential import (
            normalization_suggest,
        )

        checked = base(df)
        if value not in checked.columns:
            # recurrence detectors project value away; the hook needs
            # the raw value back for its memory
            checked = checked.join(df.select(keys, order, value),
                                   on=[keys, order], how="left")
        return normalization_suggest(
            checked, keys, order, value, kind=kind, N=nconf["N"],
            period=nconf.get("period", 1))
    return t


def _compile_base(
    alg: str, conf: dict, *, keys, order: str, value: str,
) -> Callable[[DataFrame], DataFrame]:
    alg = _clean_alg(alg)
    ws = tuple(conf.get("warning_stages") or ())
    UL, LL = conf.get("UL"), conf.get("LL")

    if alg == "BorderCheck":
        from anomaly_detection_spark.operators.constraints import border_check

        def t(df):
            return df.withColumn(
                "code", border_check(F.col(value).cast("double"), LL, UL, ws))
        return t

    if alg == "EMA":
        from anomaly_detection_spark.operators.sequential import ema_check

        def t(df):
            extra = [c for c in df.columns
                     if c not in (keys, order, value)]
            return ema_check(df, keys, order, value, N=conf["N"], LL=LL,
                             UL=UL, warning_stages=ws, extra_cols=extra)
        return t

    if alg == "EMA_Percentile":
        from anomaly_detection_spark.operators.sequential import (
            ema_percentile_check,
        )

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            return ema_percentile_check(
                df, keys, order, value,
                N=conf.get("N", conf.get("period", 9)),
                percentile=100.0 - conf["percentile"]
                if conf["percentile"] < 50 else conf["percentile"],
                window=conf["window"], extra_cols=extra)
        return t

    if alg == "Welford":
        from anomaly_detection_spark.operators.windowed import (
            welford_streaming, welford_windowed,
        )
        N, X = conf.get("N"), conf.get("X", 3.0)

        def t(df):
            if N:
                return welford_windowed(df, keys, order, value, N=N, X=X,
                                        warning_stages=ws)
            return welford_streaming(df, keys, order, value, X=X,
                                     warning_stages=ws)
        return t

    if alg == "Percentile":
        from anomaly_detection_spark.operators.windowed import percentile_check

        def t(df):
            return percentile_check(
                df, keys, order, value,
                buff_size=conf.get("buff_size", conf.get("window", 20)),
                percentile=conf["percentile"]
                if conf["percentile"] > 50 else 100.0 - conf["percentile"])
        return t

    if alg == "Hampel":
        from anomaly_detection_spark.operators.windowed import hampel

        def t(df):
            return hampel(df, keys, order, value, W=conf["W"],
                          n_sigmas=conf.get("n_sigmas", 3.0),
                          K=conf.get("K", 1.4826),
                          suggested="suggested_value")
        return t

    if alg == "MACD":
        from anomaly_detection_spark.operators.sequential import macd_check

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            return macd_check(df, keys, order, value,
                              period1=conf["period1"], period2=conf["period2"],
                              LL=LL, UL=UL, warning_stages=ws,
                              extra_cols=extra)
        return t

    if alg == "Cumulative":
        from anomaly_detection_spark.operators.sequential import (
            cumulative_check,
        )

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            return cumulative_check(df, keys, order, value,
                                    averaging=conf["averaging"],
                                    decay=conf["decay"], warning_stages=ws,
                                    extra_cols=extra)
        return t

    if alg == "LinearFit":
        from anomaly_detection_spark.operators.windowed import linear_fit_check

        def t(df):
            return linear_fit_check(df, keys, order, value, N=conf["N"],
                                    LL=LL, UL=UL, warning_stages=ws)
        return t

    if alg == "Filtering":
        from anomaly_detection_spark.operators.sequential import (
            filtering_check,
        )

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            return filtering_check(
                df, keys, order, value, filter_order=conf["filter_order"],
                cutoff_frequency=conf["cutoff_frequency"],
                mode=conf.get("mode", 0), LL=LL, UL=UL, warning_stages=ws,
                extra_cols=extra)
        return t

    if alg == "IsolationForest":
        from anomaly_detection_spark.operators.mvoutlier import (
            iforest_check, iforest_retrain_check,
        )

        def t(df):
            feats = conf.get("features") or [value]
            extra = [c for c in df.columns
                     if c not in feats and c != keys]
            if conf.get("retrain_interval"):
                # the reference's rolling retrain (isolation_forest.py:
                # 158-177): refit every retrain_interval samples on the
                # trailing samples_for_retrain buffer
                extra_o = [c for c in extra if c != order]
                return iforest_retrain_check(
                    df, keys, order, feats,
                    retrain_interval=conf["retrain_interval"],
                    samples_for_retrain=conf.get("samples_for_retrain"),
                    extra_cols=extra_o)
            return iforest_check(
                df, keys, feats,
                n_trees=conf.get("max_features", 100)
                if conf.get("max_features", 0) > 10 else 100,
                max_train=conf.get("max_samples", 20_000),
                contamination=conf.get("contamination", 0.01),
                extra_cols=extra)
        return t

    if alg == "PCA":
        from anomaly_detection_spark.operators.mvoutlier import (
            pca_iforest_check,
        )

        def t(df):
            feats = conf.get("features") or [value]
            extra = [c for c in df.columns if c not in feats and c != keys]
            return pca_iforest_check(
                df, keys, feats, n_components=conf.get("N_components", 2),
                contamination=conf.get("contamination", 0.01),
                extra_cols=extra)
        return t

    if alg == "Clustering":
        from anomaly_detection_spark.operators.clustering import (
            clustering_check_grouped, clustering_retrain_check,
        )

        def t(df):
            feats = conf.get("features") or [value]
            extra = [c for c in df.columns if c not in feats and c != keys]
            if conf.get("retrain_interval"):
                extra_o = [c for c in extra if c != order]
                return clustering_retrain_check(
                    df, keys, order, feats, eps=conf["eps"],
                    min_samples=conf["min_samples"],
                    treshold=conf["treshold"],
                    retrain_interval=conf["retrain_interval"],
                    samples_for_retrain=conf.get("samples_for_retrain"),
                    initial_train=_load_train_vectors(conf.get("train_data")),
                    extra_cols=extra_o)
            return clustering_check_grouped(
                df, keys, feats, eps=conf["eps"],
                min_samples=conf["min_samples"],
                treshold=conf["treshold"], extra_cols=extra)
        return t

    if alg == "GAN":
        from anomaly_detection_spark.operators.neural import (
            gan_check, gan_retrain_check,
        )
        from anomaly_detection_spark.operators.windowed import shift_features

        def t(df):
            tc = conf.get("train_conf", {})
            n_shifts = int(tc.get("N_shifts", 0))
            feats = [value] + [f"shift_{i}" for i in range(1, n_shifts + 1)]
            extra = [c for c in df.columns if c not in (keys, order, value)]
            src = df
            if n_shifts:
                # single-value inputs get the same shift construction the
                # reference applies (gan.py:130-132); warm-up rows carry
                # no verdict and rejoin as Undefined in run()
                src = shift_features(df, keys, order, value,
                                     list(range(1, n_shifts + 1)))
                src = src.filter(F.col(f"shift_{n_shifts}").isNotNull())
            # the reference REQUIRES train_data (or a saved keras model)
            # to initialize — gan.py:95-101 raises otherwise. A config
            # naming a train set must never be silently scored with a
            # model fit on the contaminated stream; a config without one
            # falls back to self-training WITH a warning (documented
            # divergence: saved-keras load_model_from has no engine-side
            # equivalent).
            train_df = _gan_train_frame(df.sparkSession,
                                        conf.get("train_data"), n_shifts,
                                        feats)
            if train_df is None and "load_model_from" not in conf:
                import warnings
                warnings.warn(
                    "GAN config has no train_data: training on the scored "
                    "stream itself (the reference would raise, gan.py:99)")
            common = dict(
                n_latent=int(tc.get("N_latent", 3)),
                K=float(tc.get("K", 3.0)),
                len_window=int(tc.get("len_window", 20)),
                extra_cols=extra)
            if conf.get("retrain_interval") and conf.get("samples_for_retrain"):
                if train_df is None:
                    raise UnsupportedAlgorithm(
                        "GAN retrain_interval requires train_data (the "
                        "reference initializes from it, gan.py:95-101)")
                return gan_retrain_check(
                    df.sparkSession, src, keys, order, feats,
                    retrain_interval=int(conf["retrain_interval"]),
                    samples_for_retrain=int(conf["samples_for_retrain"]),
                    train_df=train_df, **common)
            # reference quirk: retrain_interval WITHOUT samples_for_retrain
            # never fires (fire condition is `samples_for_retrain ==
            # memory.shape[0]`, i.e. None == int — gan.py:202-204), so
            # that shape is exactly the fixed model
            return gan_check(df.sparkSession, src, keys, order, feats,
                             train_df=train_df, **common)
        return t

    if alg == "Trend_Classification":
        from anomaly_detection_spark.operators.neural import trend_nn_check

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            return trend_nn_check(
                df.sparkSession, df, keys, order, value,
                N=conf["N"], averaging=conf.get("averaging", 1),
                prediction_conv=conf.get("prediction_conv", 1),
                amp_scale=conf.get("amp_scale", 1.0),
                warning_stages=ws or (),
                num_samples=conf.get("num_samples", 1000),
                train_noise=conf.get("train_noise", 0.05),
                extra_cols=extra)
        return t

    if alg == "RRCF_trees":
        from anomaly_detection_spark.operators.rrcf import rrcf_stream_check

        def t(df):
            feats = conf.get("features") or [value]
            extra = [c for c in df.columns
                     if c not in feats and c not in (keys, order)]
            return rrcf_stream_check(
                df, keys, order, feats, num_trees=conf["num_trees"],
                tree_size=conf["tree_size"], threshold=conf["threshold"],
                extra_cols=extra)
        return t

    if alg == "Combination":
        # the reference's stacked detector (combination.py:70-118): run
        # every sub-algorithm on each row, then fold their statuses with
        # a determiner. Sub-detectors compile recursively (nesting works
        # the same way the reference's eval-in-module-namespace does).
        from anomaly_detection_spark.operators.combination import (
            combine_and, combine_or,
        )

        sub_algs = conf["anomaly_algorithms"]
        sub_confs = conf["anomaly_algorithms_configurations"]
        if len(sub_algs) != len(sub_confs):
            raise ValueError(
                f"Combination has {len(sub_algs)} algorithms for "
                f"{len(sub_confs)} configurations")
        det_name = _clean_alg(conf["status_determiner"])
        det_conf = conf.get("status_determiner_conf") or {}
        if det_name not in ("AND", "OR", "PercentScore"):
            # PercentScore_Alicante scores status TEXT ('upper' matches,
            # combination.py:221-265) which the compiled code columns do
            # not carry; its semantics are available via
            # operators.windowed.percent_score_alicante (oracle-green in
            # combination_alicante_events)
            raise UnsupportedAlgorithm(
                f"unsupported status_determiner {det_name!r} (AND / OR / "
                "PercentScore compile; PercentScore_Alicante needs status "
                "text — use operators.windowed.percent_score_alicante)")
        subs = [
            (f"_comb_{i}_{_clean_alg(a).lower()}",
             compile_detector(a, c, keys=keys, order=order, value=value),
             None)
            for i, (a, c) in enumerate(zip(sub_algs, sub_confs))
        ]

        def t(df):
            out, names = _join_verdicts(df, subs, keys=keys, order=order)
            if det_name == "AND":
                return out.withColumn("code", combine_and(names)).drop(*names)
            if det_name == "OR":
                return out.withColumn("code", combine_or(names)).drop(*names)
            # PercentScore: the reference determiner RETURNS the
            # interval-convolved float score as the status code
            # (combination.py:178-218) — so does the compiled column
            from anomaly_detection_spark.operators.windowed import (
                percent_score,
            )
            interval = float(det_conf["interval"])
            num_in_interval = int(interval / float(det_conf["data_interval"]))
            return percent_score(
                out, keys, order, names, interval=interval,
                num_in_interval=num_in_interval, out="code",
            ).drop(*names)
        return t

    if alg in ("fb_Prophet", "Prophet"):
        from anomaly_detection_spark.operators.forecast import (
            forecast_retrain_check,
        )

        # two reference config shapes share the name: fb_prophet.py
        # (min_samples/max_samples) and prophet.py
        # (samples_in_store/history_file/memory_location,
        # prophet.py:42-60). prophet.py cannot actually run in the
        # reference (tiemstamp typo :77, unassigned .append :84-85,
        # undefined changepoint_range :151) so its keys translate to the
        # working detector loop: samples_in_store is both the training
        # memory and the score gate (rows are Undefined until the memory
        # is full) -> min_samples = max_samples = samples_in_store; the
        # history file warm-starts the memory so the first live row can
        # be scored. uncertainty_interval is honored (the reference
        # reads it then hard-codes interval_width=0.9 — its default here
        # for this shape); memory_location (a resave path) has no
        # engine-side meaning and is ignored.
        if "min_samples" in conf:
            store = None
            hist = None
            kw = dict(
                min_samples=conf["min_samples"],
                max_samples=conf["max_samples"],
                retrain_interval=conf.get("retrain_interval", 1),
                uncertainty_interval=conf.get("uncertainty_interval", 0.95),
            )
        elif "samples_in_store" in conf:
            store = int(conf["samples_in_store"])
            hist = _load_prophet_history(conf.get("history_file"), store)
            kw = dict(
                min_samples=store,
                max_samples=store,
                retrain_interval=conf.get("retrain_interval", 1),
                uncertainty_interval=conf.get("uncertainty_interval", 0.9),
            )
        else:
            raise UnsupportedAlgorithm(
                "Prophet config carries neither min_samples "
                "(fb_prophet.py shape) nor samples_in_store "
                "(prophet.py shape)")

        def t(df):
            extra = [c for c in df.columns if c not in (keys, order, value)]
            src = df
            extra_t = list(extra)
            if hist:
                # warm-start: the history rows fill every series' memory
                # BEFORE the live rows (prophet.py trains at configure
                # time); they are tagged, scored, and dropped from the
                # output — only live rows carry verdicts
                spark = df.sparkSession
                # build with double order then cast to the live frame's
                # dtype: local_frame refuses a lossy float for an integer
                # column, so an integer order column (epoch seconds as
                # long) would reject fractional float(t0) rows
                o_type = df.schema[order].dataType
                hdf = local_frame(
                    spark, [(float(t0), float(y)) for t0, y in hist],
                    f"`{order}` double, `{value}` double",
                ).withColumn(order, F.col(order).cast(o_type))
                hjoin = (
                    df.select(keys).distinct()
                    .crossJoin(F.broadcast(hdf))
                    .withColumn("_hist", F.lit(True))
                )
                src = df.withColumn("_hist", F.lit(False))
                for c in extra:
                    hjoin = hjoin.withColumn(
                        c, F.lit(None).cast(df.schema[c].dataType))
                src = src.unionByName(hjoin.select(src.columns))
                extra_t.append("_hist")
            out_df = forecast_retrain_check(
                src, keys, order, value, **kw,
                # Prophet infers its seasonalities; the reference config
                # carries none, so the period is an engine knob
                # (default: daily on epoch-second timestamps)
                period=conf.get("period", 86400.0),
                harmonics=conf.get("harmonics", 2),
                n_changepoints=conf.get("n_changepoints", 0),
                extra_cols=extra_t)
            if hist:
                out_df = out_df.filter(~F.col("_hist")).drop("_hist")
            return out_df
        return t

    raise UnsupportedAlgorithm(f"unknown algorithm {alg!r}")


def compile_config(
    config: dict | str, *, keys: str = "series", order: str = "ts",
    value: str = "value",
) -> Callable[[DataFrame], DataFrame]:
    """Reference-shape config -> transform producing one verdict column per
    detector (code_<i>_<alg>) plus the OR-combined ``status_code``."""
    if isinstance(config, str):
        with open(config) as f:
            config = json.load(f)
    algs = config["anomaly_detection_alg"]
    confs = config["anomaly_detection_conf"]
    filters = list(config.get("filtering") or [])
    if len(filters) > len(algs):
        raise ValueError(
            f"filtering has {len(filters)} entries for {len(algs)} detectors")
    # a shorter list runs the trailing detectors unfiltered instead of
    # silently dropping them in the zip below
    filters += [None] * (len(algs) - len(filters))
    compiled = [
        (f"code_{i}_{_clean_alg(a).lower()}",
         compile_detector(a, c, keys=keys, order=order, value=value),
         _time_filter_spec(flt))
        for i, (a, c, flt) in enumerate(zip(algs, confs, filters))
    ]

    def run(df: DataFrame) -> DataFrame:
        from anomaly_detection_spark.operators.combination import combine_or

        out, code_cols = _join_verdicts(df, compiled, keys=keys, order=order,
                                        suggested=True)
        return out.withColumn("status_code", combine_or(code_cols))

    return run
