"""SparkFeaturesEnricher — the fit/transform lifecycle.

Spark-native counterpart of the reference's FeaturesEnricher
(src/upgini/features_enricher.py): ``fit`` runs the preparation pipeline
(§3.1 steps 1-16), freezes a deterministic *feature plan* (the operator
DAG that replaces the remote search, §3.1 steps 17-18), and records fit
state (dropped columns, learned params). ``transform`` replays the frozen
plan on new data (§3.2) — same normalization, same keys, same as-of
enrichment, same generated-feature formulas — guaranteeing train/serve
consistency and zero temporal leakage (every enrichment row satisfies
``feature_ts <= event_time``).

The remote search_task/REST machinery (src/upgini/search_task.py,
http.py) is deliberately replaced by local Spark stages over a
caller-provided feature-source table; checkpointing below stands in for
the server's snapshotting.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from upgini_spark.functions import dedup as DD
from upgini_spark.joins.asof import asof_join, asof_join_hist, build_asof_hist
from upgini_spark.operators.date import cyclical_features
from upgini_spark.pipeline import normalizer as N
from upgini_spark.pipeline.record_ids import add_system_record_id
from upgini_spark.plans.feature_dag import compile_features

MIN_ROWS_COUNT = 100     # reference dataset.py:59
MAX_ROWS = 3_000_000     # reference dataset.py:60 (we partition instead of chunk)


@dataclass
class FitState:
    """Everything transform needs to replay fit decisions. JSON-round-trips
    so a frozen plan survives session restarts (the Spark analog of the
    reference's downloadable FileMetadata/search-task state,
    dataset.py:444-525)."""
    search_keys: dict[str, str] = field(default_factory=dict)  # col -> type
    entity_col: str = ""
    ts_col: str = ""
    dropped_features: dict[str, str] = field(default_factory=dict)
    generated_formulas: dict[str, str] = field(default_factory=dict)
    learned_params: dict[str, Any] = field(default_factory=dict)
    feature_cols: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        import dataclasses
        import json

        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "FitState":
        import json

        return cls(**json.loads(s))


class SparkFeaturesEnricher:
    """As-of enrichment + generated temporal features with a frozen plan.

    Parameters
    ----------
    feature_source : right side of the point-in-time join —
        ``(entity_id, feature_ts, feature columns...)``.
    entity_col / ts_col : the search keys in the input frame
        (reference mandates a DATE/DATETIME key:
        features_enricher.py:2828-2843).
    formulas : generated-feature formulas evaluated after enrichment
        (the stand-in for server-selected AutoFE formulas,
        metadata.py:332-337); ``None`` → a default temporal set.

    The as-of engine follows the feature source's layout: after
    :meth:`materialize_source_bucketed` the enricher joins against the
    bucketed history table, otherwise it runs the native as-of join.
    """

    def __init__(
        self,
        feature_source: DataFrame,
        source_entity_col: str = "entity_id",
        source_ts_col: str = "feature_ts",
        formulas: dict[str, str] | None = None,
    ) -> None:
        self.feature_source = feature_source
        self.source_entity_col = source_entity_col
        self.source_ts_col = source_ts_col
        self.formulas = formulas
        self.state: FitState | None = None
        # the bucketed history table, set by materialize_source_bucketed
        self._hist: DataFrame | None = None

    # -- lifecycle ----------------------------------------------------------

    def fit(
        self,
        df: DataFrame,
        entity_col: str,
        ts_col: str,
        feature_cols: list[str] | None = None,
        target_col: str | None = None,
        validate_features: bool = True,
    ) -> "SparkFeaturesEnricher":
        n = df.count()
        if n < MIN_ROWS_COUNT:
            raise ValueError(f"X should be at least {MIN_ROWS_COUNT} rows, got {n}")

        feature_cols = feature_cols or []
        state = FitState(
            search_keys={entity_col: "CUSTOM_KEY", ts_col: "DATETIME"},
            entity_col=entity_col,
            ts_col=ts_col,
            feature_cols=list(feature_cols),
        )

        work = df
        if validate_features and feature_cols:
            work, dropped = N.validate_features(work, feature_cols)
            state.dropped_features = dropped
            state.feature_cols = [c for c in feature_cols if c not in dropped]

        # default generated-feature plan: rolling stats + lag over the first
        # surviving external numeric feature after enrichment
        if self.formulas is None:
            vcols = [
                c for c in self.feature_source.columns
                if c not in (self.source_entity_col, self.source_ts_col)
                and dict(self.feature_source.dtypes).get(c) in ("double", "float")
            ]
            v = vcols[0] if vcols else None
            state.generated_formulas = (
                {
                    f"f_autofe_roll_7d_mean": f"roll_7D_mean({ts_col},{entity_col},{v})",
                    f"f_autofe_roll_30d_max": f"roll_30D_max({ts_col},{entity_col},{v})",
                    f"f_autofe_lag_1d": f"lag_1D({ts_col},{entity_col},{v})",
                }
                if v
                else {}
            )
        else:
            state.generated_formulas = dict(self.formulas)

        self.state = state
        return self

    def materialize_source_bucketed(
        self, table_name: str, n_buckets: int = 64
    ) -> "SparkFeaturesEnricher":
        """Persist the per-entity history collapse as a BUCKETED table
        (bucketed on the entity key); :meth:`transform` then joins
        against it instead of the raw source. When the input frame passed
        to :meth:`transform` is itself read from a table bucketed on the
        entity key with the SAME bucket count (see
        :meth:`bucketize_input`), the as-of join plans bucket-to-bucket
        (zero Exchange on either side) and every downstream window
        keyed by the entity reuses the scan's clustering — the token
        payload never crosses a shuffle. This is the table-backed
        feature-store deployment shape: the collapse + layout cost is
        paid once at write time, then every fit/transform/eval replay
        is exchange-free (the 100 TB lever; reference enrichment
        re-joins the same feature store on every transform,
        features_enricher.py:4630-4698). Idempotent across sessions via
        ``ensure_bucketed`` (re-registers an existing layout)."""
        from upgini_spark.sources.io import ensure_bucketed

        spark = self.feature_source.sparkSession
        ensure_bucketed(
            spark,
            lambda: build_asof_hist(
                self.feature_source, self.source_ts_col, [self.source_entity_col]
            ),
            table_name,
            [self.source_entity_col],
            n_buckets,
        )
        # the table scan carries the bucketed output partitioning — do NOT
        # localCheckpoint it (that would erase the partitioning and
        # reintroduce the exchange transform() exists to avoid)
        self._hist = spark.table(table_name)
        # the generated-feature join-back keys on (entity, ts); both sides
        # are clustered by entity alone, which co-partitions the join only
        # when Spark is allowed to accept a subset of the join keys as the
        # hash keys (default requires ALL keys → it reshuffles both sides
        # by (entity, ts)). Relaxing is plan-only — never changes results.
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        return self

    @staticmethod
    def bucketize_input(
        df: DataFrame,
        table_name: str,
        entity_col: str,
        ts_col: str,
        n_buckets: int = 64,
    ) -> DataFrame:
        """Write (once) and read back the event frame as a bucketed table
        co-located with :meth:`materialize_source_bucketed`'s layout:
        bucketed on the entity key, sorted within buckets by
        (entity, ts) so as-of/window stages start from sorted runs."""
        from upgini_spark.sources.io import ensure_bucketed

        ensure_bucketed(
            df.sparkSession, lambda: df, table_name, [entity_col], n_buckets,
            sort_cols=[entity_col, ts_col],
        )
        return df.sparkSession.table(table_name)

    def transform(self, df: DataFrame, keep_cyclical: bool = True) -> DataFrame:
        """Replay the frozen plan: drop fit-dropped features → cyclical date
        features → as-of enrichment → generated features."""
        if self.state is None:
            raise RuntimeError("transform called before fit")
        st = self.state

        out = df.drop(*[c for c in st.dropped_features if c in df.columns])

        if keep_cyclical:
            cyc = cyclical_features(F.col(st.ts_col))
            out = out.select("*", *[e.alias(name) for name, e in cyc.items()])

        if self._hist is not None:
            # sort-merge join against the bucketed history table:
            # bucket-to-bucket (zero Exchange) when the input is bucketed
            # the same way (see bucketize_input)
            out = asof_join_hist(
                out, self._hist, st.ts_col, [st.entity_col],
                [self.source_entity_col], keep_match_ts=True,
            )
        else:
            out = asof_join(
                out,
                self.feature_source,
                left_on=st.ts_col,
                right_on=self.source_ts_col,
                by_left=st.entity_col,
                by_right=self.source_entity_col,
                keep_match_ts=True,
            )
        if st.generated_formulas:
            out = compile_features(out, st.generated_formulas, ts_col=st.ts_col)
        return out

    def fit_transform(self, df: DataFrame, **kwargs) -> DataFrame:
        self.fit(df, **kwargs)
        return self.transform(df)

    # -- dedup pipeline (fit-side, §3.1 step 11) -----------------------------

    def clean_duplicates(
        self,
        df: DataFrame,
        target_col: str,
        order_col: str,
        fintech_window_seconds: int = 60 * 86400,
    ) -> DataFrame:
        """remove_fintech_duplicates + clean_full_duplicates
        (features_enricher.py:3543-3554)."""
        st = self.state
        if st is None:
            raise RuntimeError("clean_duplicates called before fit")
        keys = [st.entity_col]
        # full gated pipeline (deduplicate_utils.py:21-135): BINARY-task and
        # multi-date-share applicability gates, per eval segment
        out = DD.remove_fintech_duplicates(
            df, keys, target_col, st.ts_col, window_seconds=fintech_window_seconds
        )
        out = DD.drop_full_duplicates(
            out, subset=[c for c in out.columns if c != order_col], order_col=order_col
        )
        return out

    def calculate_metrics(
        self,
        df: DataFrame,
        target_col: str,
        scoring: str | None = None,
        max_rows: int = 100_000,
        eval_set_index_col: str = "eval_set_index",
        n_splits: int = 5,
        estimator: str = "linear",
        loss: str | None = None,
    ):
        """The `calculate_metrics` lifecycle step (features_enricher.py:
        926-1300): enrich distributed → deterministic ≤``max_rows``
        sample (the reference also trains on a ≤100k sampled frame —
        model fitting never touches the full table) → distributed fold
        assignment (pipeline/cv.py) → ONE collect → driver-side CV
        harness (pipeline/metrics.py). Returns the reference-layout
        report DataFrame (pandas).

        ``estimator='gbdt'`` swaps the linear stand-ins for the
        histogram-GBDT twin of the reference's CatBoost estimators
        (pipeline/gbdt.py) and derives ``feature_importances_`` from
        exact TreeSHAP instead of permutation — the reference's actual
        importance statistic (metrics.py calculate_shap). ``loss`` is a
        reference custom-loss string lowered through
        get_additional_params_custom_loss into the estimator's
        loss_function (gbdt only; the linear stand-ins ignore it, with
        the same warning the reference logs for unsupported pairs)."""
        from upgini_spark.functions.sampling import hash_sample_exact
        from upgini_spark.functions.stats import define_task
        from upgini_spark.pipeline.cv import (
            kfold_column,
            stratified_kfold_column,
        )
        from upgini_spark.pipeline.metrics import calculate_metrics_report

        st = self.state
        if st is None:
            raise RuntimeError("calculate_metrics called before fit")
        # metrics never read the payload columns (token arrays!) — drop
        # them BEFORE the as-of enrichment so they never ride the union
        # + window shuffle (~500 int32/row at the reference scale)
        has_eval_pre = eval_set_index_col in df.columns
        needed = dict.fromkeys(
            [st.entity_col, st.ts_col, target_col, *st.feature_cols]
            + ([eval_set_index_col] if has_eval_pre else [])
        )
        enriched = self.transform(df.select(*[c for c in needed if c in df.columns]))
        task = define_task(df.select(target_col), target_col, has_date=True)

        dtypes = dict(enriched.dtypes)
        baseline_cols = [c for c in st.feature_cols if c in dtypes]
        generated = [c for c in st.generated_formulas if c in dtypes]
        enriched_cols = baseline_cols + generated

        has_eval = eval_set_index_col in dtypes
        seg = F.col(eval_set_index_col) if has_eval else None
        # project to the metrics columns BEFORE sampling/collecting —
        # payload columns (token arrays) must never ride through the
        # top-n sample heap or the Arrow collect (measured 40 s → ~8 s
        # at 600k rows in bench metrics_e2e)
        keep = list(
            dict.fromkeys(
                [st.entity_col, st.ts_col, target_col, *enriched_cols]
                + ([eval_set_index_col] if has_eval else [])
            )
        )
        # one eager checkpoint of the narrow frame: count, sample, fold
        # and the eval collects each re-ran the FULL as-of + window plan
        # otherwise (3× enrichment, measured 42 s → ~14 s at 600k rows).
        # localCheckpoint, not persist — no CacheManager leak (CLAUDE.md).
        narrow = enriched.select(*keep).localCheckpoint(eager=True)
        train_sdf = (
            narrow.filter(seg.isNull() | (seg == 0)) if has_eval else narrow
        )
        # one segment-count pass supplies the train count, the eval
        # segment list AND each segment's size (was: a count job per
        # segment plus a distinct collect — 4 jobs at 2 eval segments)
        if has_eval:
            seg_counts = {
                r[0]: r[1]
                for r in narrow.groupBy(eval_set_index_col).count().collect()
            }
            n_train = sum(
                c for s, c in seg_counts.items() if s in (None, 0)
            )
        else:
            seg_counts = {}
            n_train = narrow.count()
        if n_train > max_rows:
            train_sdf = hash_sample_exact(
                train_sdf, max_rows, [st.entity_col, st.ts_col], total=n_train
            )

        def collect_eval(s):
            ev_sdf = narrow.filter(seg == s).drop(eval_set_index_col)
            # the reference samples EVAL sets too (features_enricher
            # eval_set_sampled_dict, :1880/:2043) — and an uncapped
            # collect of a large eval segment would be unbounded
            # driver memory (r5 scale audit; same deterministic
            # hash-sample regime as the train side)
            n_ev = seg_counts[s]
            if n_ev > max_rows:
                ev_sdf = hash_sample_exact(
                    ev_sdf, max_rows, [st.entity_col, st.ts_col], total=n_ev
                )
            return ev_sdf.toPandas()

        # the eval-segment collects are INDEPENDENT of the train
        # fold+collect chain — submit them first on a small pool so their
        # jobs back-fill executors idled by the train chain's tails
        # (guide §2.6 "overlap independent jobs"); per-segment jobs, rows
        # and frame order are byte-identical to the sequential loop, the
        # futures list preserves segment order
        from concurrent.futures import ThreadPoolExecutor

        segs = (
            sorted(s for s in seg_counts if s not in (None, 0))
            if has_eval
            else []
        )
        pool = ThreadPoolExecutor(max_workers=2) if segs else None
        eval_futs = [pool.submit(collect_eval, s) for s in segs]
        try:
            fold_fn = (
                stratified_kfold_column
                if task in ("BINARY", "MULTICLASS")
                else kfold_column
            )
            folded = (
                stratified_kfold_column(
                    train_sdf, target_col, [st.entity_col, st.ts_col], n_splits
                )
                if fold_fn is stratified_kfold_column
                else kfold_column(train_sdf, [st.entity_col, st.ts_col], n_splits)
            )
            train_pdf = folded.drop(
                *[c for c in folded.columns if c == eval_set_index_col]
            ).toPandas()
            eval_frames = [f.result() for f in eval_futs]
        finally:
            if pool is not None:
                pool.shutdown()
        estimator_params = None
        if loss is not None:
            from upgini_spark.pipeline.custom_loss import (
                get_additional_params_custom_loss,
            )

            estimator_params = get_additional_params_custom_loss(loss, task) or None
        report, _baseline_h, enriched_h = calculate_metrics_report(
            train_pdf, target_col,
            baseline_cols=baseline_cols, enriched_cols=enriched_cols,
            fold_col="fold_id", task_type=task,
            eval_frames=eval_frames, scoring=scoring,
            return_harnesses=True,
            estimator=estimator, estimator_params=estimator_params,
        )
        # the reference's _update_shap_values step: per-fold importances
        # averaged into a feature ranking — exact TreeSHAP when the gbdt
        # estimator is in play (the reference's CatBoost-SHAP statistic),
        # deterministic permutation stand-in for the linear estimators
        if estimator == "gbdt":
            self.feature_importances_ = enriched_h.shap_importance(
                train_pdf, "fold_id"
            )
        else:
            self.feature_importances_ = enriched_h.permutation_importance(
                train_pdf, target_col, "fold_id"
            )
        # kept for the features-info report (≤ max_rows, already local —
        # the reference also previews from the metrics sample frame)
        self._metrics_train_pdf = train_pdf
        return report

    def get_features_info(self):
        """The post-fit features report (reference features_enricher.py:
        4707-4836 __prepare_feature_importances + utils/feature_info.py):
        one row per important feature — SHAP (display-rounded), PSI (when
        :meth:`check_stability` ran), Coverage %, deterministic value
        preview, provider/source resolution — ordered by (-shap, name),
        zero-importance features skipped, drift column dropped when
        empty. Returns the with-links frame and stores
        ``features_info`` / ``_features_info_without_links`` like the
        reference. Requires :meth:`calculate_metrics` first (importances
        come from its CV harness)."""
        from upgini_spark.pipeline.feature_info import (
            FeatureMeta,
            build_features_info,
        )

        imps = getattr(self, "feature_importances_", None)
        if imps is None:
            raise RuntimeError("get_features_info requires calculate_metrics first")
        st = self.state
        pdf = self._metrics_train_pdf
        client = set(st.feature_cols)
        generated = set(st.generated_formulas)
        psi = getattr(self, "psi_values_", None) or {}
        metas = [
            FeatureMeta(
                name=c,
                shap_value=float(v),
                hit_rate=(
                    round(float(pdf[c].notna().mean()) * 100.0, 2)
                    if c in pdf.columns else None
                ),
                psi_value=psi.get(c),
            )
            for c, v in imps.items()
        ]
        info, nolinks, _internal = build_features_info(
            metas, pdf, client_features=client, generated_features=generated
        )
        self.features_info = info
        self._features_info_without_links = nolinks
        return info

    def check_stability(
        self,
        df: DataFrame,
        eval_set_index_col: str = "eval_set_index",
        stability_threshold: float = 0.2,
        min_rows: int = 1_000,
        cat_features: list[str] | None = None,
    ) -> tuple[list[str], dict[str, float]]:
        """The reference's OOT-PSI stability step (features_enricher.py:
        1419-1533, default ``stability_threshold=0.2``): enrich, slice
        the eval segments, elect the best-dated one, and report unstable
        features (sparsity ∪ value PSI over monthly intervals). Returns
        (unstable_features, psi_values_of_stable) and records them on
        ``self.unstable_features_`` / ``self.psi_values_`` like the
        reference's attributes. All PSI work is distributed aggregates."""
        from upgini_spark.functions.stats import select_stable_features

        st = self.state
        if st is None:
            raise RuntimeError("check_stability called before fit")
        if eval_set_index_col not in df.columns:
            self.unstable_features_, self.psi_values_ = [], {}
            return [], {}
        enriched = self.transform(df)
        dtypes = dict(enriched.dtypes)
        features = [c for c in st.feature_cols if c in dtypes] + [
            c for c in st.generated_formulas if c in dtypes
        ]
        seg = F.col(eval_set_index_col)
        train = enriched.filter(seg.isNull() | (seg == 0))
        segs = sorted(
            r[0]
            for r in enriched.select(eval_set_index_col).distinct().collect()
            if r[0] not in (None, 0)
        )
        evals = [enriched.filter(seg == s) for s in segs]
        unstable, stable_vals, _idx = select_stable_features(
            train, evals, st.ts_col, features, cat_features or [],
            stability_threshold=stability_threshold, min_rows=min_rows,
        )
        self.unstable_features_, self.psi_values_ = unstable, stable_vals
        return unstable, stable_vals

    def with_record_ids(self, df: DataFrame) -> DataFrame:
        """Deterministic sort + system_record_id (§3.1 steps 12,16)."""
        st = self.state
        return add_system_record_id(
            df, st.ts_col, [st.entity_col] + st.feature_cols
        )
