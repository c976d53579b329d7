"""Feature DAG: formula parsing + Spark lowering.

The reference serializes generated features as formula strings —
``GroupByThenFreq(a,b)``, ``(a+b)``, ``log(GroupByThenMean(x,y))``,
parametrized time-series names like ``lag_3d_offset_1D`` / ``roll_2D_mean``
(grammar: src/upgini/autofe/feature.py:308-371; registry resolution
src/upgini/autofe/operator.py:10-49). This module is a clean-room
recursive-descent parser for the same grammar plus a lowering that turns
each node into either a native Spark Column expression or a staged
time-series computation (window spec / pandas-UDF kernel).

Column-expression ops compile to ONE select — the Spark analog of the
reference's FeatureGroup.make_groups vectorized batching
(src/upgini/autofe/feature.py:433-451): Catalyst fuses the expressions in
a single WholeStageCodegen pass.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from upgini_spark.operators import binary as B
from upgini_spark.operators import date as DT
from upgini_spark.operators import groupby as G
from upgini_spark.operators import unary as U
from upgini_spark.operators import vector as V
from upgini_spark.operators import timeseries as TS


@dataclass
class Node:
    pass


@dataclass
class Col(Node):
    name: str


@dataclass
class Op(Node):
    op: str
    children: list[Node] = field(default_factory=list)
    params: dict = field(default_factory=dict)

    def formula(self) -> str:
        if self.op in "+-*/":
            return "(" + self.op.join(_fmt(c) for c in self.children) + ")"
        return f"{self.op}({','.join(_fmt(c) for c in self.children)})"


def _fmt(n: Node) -> str:
    return n.name if isinstance(n, Col) else n.formula()


_SPECIALS = set("()+-*/,")


def parse_formula(s: str) -> Node:
    """Parse the reference formula grammar into a DAG."""
    s = s.strip()
    pos = 0

    def peek() -> str:
        return s[pos] if pos < len(s) else ""

    def parse_expr() -> Node:
        nonlocal pos
        node = parse_term()
        while peek() != "" and peek() in "+-*/":
            op = s[pos]
            pos += 1
            rhs = parse_term()
            node = Op(op, [node, rhs])
        return node

    def parse_term() -> Node:
        nonlocal pos
        if peek() == "(":
            pos += 1
            node = parse_expr()
            if peek() != ")":
                raise ValueError(f"unbalanced parens in {s!r} at {pos}")
            pos += 1
            return node
        start = pos
        while pos < len(s) and s[pos] not in _SPECIALS:
            pos += 1
        name = s[start:pos]
        if not name:
            raise ValueError(f"empty token in {s!r} at {pos}")
        if peek() == "(":  # call form op(child, ...)
            pos += 1
            children = [parse_expr()]
            while peek() == ",":
                pos += 1
                children.append(parse_expr())
            if peek() != ")":
                raise ValueError(f"unbalanced call parens in {s!r} at {pos}")
            pos += 1
            return Op(name, children)
        return Col(name)

    node = parse_expr()
    if pos != len(s):
        raise ValueError(f"trailing characters in formula {s!r} at {pos}")
    return node


# --------------------------------------------------------------------------
# Parametrized time-series names (lag_3d, roll_2D_mean_offset_1D, ...)
# --------------------------------------------------------------------------

_TS_PATTERNS = [
    ("lag", re.compile(r"^lag_(\d+)([a-zA-Z])(?:_offset_(\d+)([a-zA-Z]))?$")),
    ("roll", re.compile(r"^roll_(\d+)([a-zA-Z])_([a-z0-9_]+?)(?:_offset_(\d+)([a-zA-Z]))?$")),
    ("delta", re.compile(r"^delta_(\d+)([a-zA-Z])(?:_offset_(\d+)([a-zA-Z]))?$")),
    ("delta2", re.compile(r"^delta2_(\d+)([a-zA-Z])(?:_offset_(\d+)([a-zA-Z]))?$")),
    ("roll_vol", re.compile(r"^roll_vol_(\d+)([a-zA-Z])$")),
    ("vol_ratio", re.compile(r"^vol_ratio_(\d+)_to_(\d+)([a-zA-Z])?$")),
    ("ewma_vol", re.compile(r"^ewma_vol_(\d+)$")),
    ("trend_coef", re.compile(r"^trend_coef$")),
    # CrossSeriesInteraction: cross_<interaction-op>[_offset_...]
    # (timeseries/cross.py:56-75; descriptors ride in op params)
    ("cross", re.compile(r"^cross_([a-z+*/-]+?)(?:_offset_(\d+)([a-zA-Z]))?$")),
]


def parse_ts_op(name: str) -> tuple[str, dict] | None:
    for kind, pat in _TS_PATTERNS:
        m = pat.match(name)
        if not m:
            continue
        g = m.groups()
        if kind == "lag":
            p = {"n": int(g[0]), "unit": g[1]}
            if g[2]:
                p["offset"] = (int(g[2]), g[3])
            return "lag", p
        if kind == "roll":
            p = {"n": int(g[0]), "unit": g[1], "agg": g[2]}
            if p["agg"] not in TS.ROLL_AGGS:
                return None
            if g[3]:
                p["offset"] = (int(g[3]), g[4])
            return "roll", p
        if kind in ("delta", "delta2"):
            p = {"n": int(g[0]), "unit": g[1], "order": 1 if kind == "delta" else 2}
            if g[2]:
                p["offset"] = (int(g[2]), g[3])
            return "delta", p
        if kind == "roll_vol":
            return "roll_vol", {"n": int(g[0]), "unit": g[1]}
        if kind == "vol_ratio":
            return "vol_ratio", {"short": int(g[0]), "long": int(g[1]), "unit": g[2] or "D"}
        if kind == "ewma_vol":
            return "ewma_vol", {"span": int(g[0])}
        if kind == "trend_coef":
            return "trend_coef", {}
        if kind == "cross":
            p = {"op": g[0]}
            if g[1]:
                p["offset"] = (int(g[1]), g[2])
            return "cross", p
    return None


# --------------------------------------------------------------------------
# Lowering: scalar nodes → Column; TS nodes → staged df transform
# --------------------------------------------------------------------------

_UNARY = {
    "abs": U.abs_, "log": U.log_, "sqrt": U.sqrt_, "square": U.square_,
    "sigmoid": U.sigmoid_, "floor": U.floor_, "residual": U.residual_,
    "freq": U.freq_,
}

_BINARY = {
    "min": B.min_, "max": B.max_,
    "+": B.add, "-": B.subtract, "*": B.multiply, "/": B.divide,
    "Combine": B.combine, "CombineThenFreq": B.combine_then_freq,
    "dist": B.distance, "sim": B.cosine_similarity,
    "sim_jw1": B.sim_jaro_winkler,
    "sim_jw2": B.sim_jaro_winkler_reversed,
    "sim_lv": B.sim_levenshtein,
    "date_diff": lambda a, b: DT.date_diff(a, b, "D"),
    "date_diff_Y": lambda a, b: DT.date_diff(a, b, "Y"),
    "date_diff_type2": DT.date_diff_type2,
}

_GROUPBY = {
    "GroupByThenMin": lambda k, v: G.group_by_then("min", k, v),
    "GroupByThenMax": lambda k, v: G.group_by_then("max", k, v),
    "GroupByThenMean": lambda k, v: G.group_by_then("mean", k, v),
    "GroupByThenMedian": lambda k, v: G.group_by_then("median", k, v),
    "GroupByThenStd": lambda k, v: G.group_by_then("std", k, v),
    "GroupByThenSum": lambda k, v: G.group_by_then("sum", k, v),
    "GroupByThenRank": G.group_by_then_rank,
    "GroupByThenNUnique": G.group_by_then_nunique,
    "GroupByThenFreq": G.group_by_then_freq,
}

_VECTOR = {"mean": V.mean, "sum": V.sum_, "vectorize": V.vectorize}

# interaction ops reachable from cross_<op> formulas (alias names per
# OP_ALIASES: / -> div etc.)
_CROSS_OPS = {
    "add": B.add, "sub": B.subtract, "mul": B.multiply, "div": B.divide,
    "min": B.min_, "max": B.max_,
}


def _param_f(node: "Op", key: str) -> float | None:
    v = node.params.get(key)
    return float(v) if v is not None else None


def _param_i(node: "Op", key: str) -> int | None:
    v = node.params.get(key)
    return int(v) if v is not None else None


_DLD_AGGS = ("min", "max", "mean", "nunique", "count")
_DLD_BOUNDED = re.compile(r"^date_diff_([^_]+)_(minusinf|\d+)_(plusinf|\d+)_(\w+?)(_norm)?$")


def _parse_date_list_diff(name: str):
    """DateListDiff formula names (date.py:136-144, 192-224):
    ``date_diff_<agg>`` and ``date_diff_<unit>_<lo>_<hi>_<agg>[_norm]``
    with unit D (days) or Y (trunc(days/365) years — the reference's
    age-bucket features like date_diff_Y_18_23_count,
    autofe/test_autofe_registry.py). Returns (unit, agg, lo, hi,
    normalize) or None."""
    if name.startswith("date_diff_type"):
        return None
    m = _DLD_BOUNDED.match(name)
    if m:
        unit, lo, hi, agg, norm = m.groups()
        if unit not in ("D", "Y") or agg not in _DLD_AGGS:
            return None
        return (
            unit,
            agg,
            None if lo == "minusinf" else float(lo),
            None if hi == "plusinf" else float(hi),
            bool(norm),
        )
    if name.startswith("date_diff_"):
        agg = name[len("date_diff_"):]
        if agg in _DLD_AGGS:
            return ("D", agg, None, None, False)
    return None


def _needs_total(node: Node) -> bool:
    """freq-family ops divide by the fit-time row count."""
    if isinstance(node, Op):
        if node.op in ("freq", "CombineThenFreq"):
            return True
        return any(_needs_total(c) for c in node.children)
    return False


def lower_to_column(node: Node, total: float | None = None) -> Column:
    """Lower a scalar DAG to one Column expression. Raises on TS nodes —
    those need :func:`compile_features`' staged path. ``total`` is the
    fit-time row count consumed by the freq family (see unary.freq_)."""
    if isinstance(node, Col):
        return F.col(node.name)
    assert isinstance(node, Op)
    kids = [lower_to_column(c, total) for c in node.children]
    if node.op == "freq" and len(kids) == 1:
        return U.freq_(kids[0], total if total is not None else _param_f(node, "total"))
    if node.op == "CombineThenFreq" and len(kids) == 2:
        return B.combine_then_freq(
            kids[0], kids[1], total if total is not None else _param_f(node, "total")
        )
    # fit-parametrized ops, replayable from serialized formulas + params
    # (set_op_params below; reference unary.py:119-190, date.py:112-323)
    if node.op == "norm" and len(kids) == 1:
        return U.norm_(kids[0], _param_f(node, "norm"))
    if node.op == "bin" and len(kids) == 1:
        bounds = [float(b) for b in node.params.get("bin_bounds", [])]
        return U.bin_(kids[0], bounds)
    if node.op == "date_per" and len(kids) == 2:
        return DT.date_percentile(
            kids[1],
            [float(b) for b in node.params.get("zero_bounds", [])],
            date=kids[0],
            zero_year=_param_i(node, "zero_year"),
            zero_month=_param_i(node, "zero_month"),
            step=_param_i(node, "step") or 30,
        )
    if (node.op == "outlier_dist" or node.op.startswith("outlier_dist_")) and len(kids) == 1:
        # fit-parametrized (reference unary.py:200-219): the fitted class
        # centroid replays via params; class_value rides in the formula name
        import json as _json

        cent = node.params.get("centroid")
        if cent is None:
            raise ValueError(
                "outlier_dist needs the fit-time 'centroid' param "
                "(operators/vector.class_centroids computes it)"
            )
        if isinstance(cent, str):
            cent = _json.loads(cent)
        from upgini_spark.operators.binary import cosine_similarity

        c_arr = F.array(*[F.lit(float(x)) for x in cent])
        return F.lit(1.0) - cosine_similarity(kids[0], c_arr)
    if (node.op == "cluster" or node.op.startswith("cluster_")) and len(kids) == 1:
        # fit-parametrized nearest-centroid id (reference autofe/unary.py:
        # 151-156 declares `cluster` and computes it server-side as k-means;
        # the fitted centroids replay via params exactly like outlier_dist —
        # functions/similarity.kmeans_centroids produces them at fit time).
        # Ties break to the SMALLEST cluster id on both engines.
        import json as _json

        cents = node.params.get("centroids")
        if cents is None:
            raise ValueError(
                "cluster needs the fit-time 'centroids' param "
                "(functions/similarity.kmeans_centroids computes them)"
            )
        if isinstance(cents, str):
            cents = _json.loads(cents)
        from upgini_spark.operators.binary import cosine_similarity

        cells = []
        for idx, cv in enumerate(cents):
            arr = F.array(*[F.lit(float(x)) for x in cv])
            cells.append(
                F.struct(
                    cosine_similarity(kids[0], arr).alias("s"),
                    F.lit(-idx).alias("ni"),
                )
            )
        best = F.array_max(F.array(*cells))
        return (-best["ni"]).cast("int")
    dld = _parse_date_list_diff(node.op)
    if dld is not None and len(kids) == 2:
        unit, agg, lo, hi, normalize = dld
        if unit == "D" and lo is None and hi is None and not normalize:
            return DT.date_list_diff(kids[0], kids[1], agg)
        return DT.date_list_diff_bounded(
            kids[0], kids[1], agg, lo=lo, hi=hi, normalize=normalize,
            unit=unit,
        )
    if node.op in _UNARY and len(kids) == 1:
        return _UNARY[node.op](kids[0])
    if node.op in _BINARY and len(kids) == 2:
        # note: reference groupby ops take (value_of_interest, group_key)
        return _BINARY[node.op](kids[0], kids[1])
    if node.op in _GROUPBY and len(kids) == 2:
        # reference argument order: GroupByThenX(value, key)
        return _GROUPBY[node.op](kids[1], kids[0])
    if node.op in _VECTOR:
        return _VECTOR[node.op](kids)
    if parse_ts_op(node.op) is not None:
        raise ValueError(
            f"time-series op {node.op!r} needs staged compilation — use compile_features"
        )
    raise ValueError(f"unknown operator {node.op!r} (arity {len(kids)})")


def compile_features(
    df: DataFrame,
    formulas: dict[str, str],
    ts_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Compute named features from formulas in as few passes as possible:
    all scalar formulas in one ``select`` (codegen-fused); each TS formula
    as a window/kernel stage. TS formulas take children
    ``(date, group..., value)`` like the reference's vector form."""
    scalar_cols: list[Column] = []
    staged: list[tuple[str, Op]] = []
    # values may be formula strings OR already-parsed (and possibly
    # param-carrying) Nodes — the FitState replay path builds nodes with
    # set_op_params and compiles them directly
    nodes = {
        out_name: formula if isinstance(formula, Node) else parse_formula(formula)
        for out_name, formula in formulas.items()
    }
    # fit-time row count, computed once, only if a freq-family op appears
    total = float(df.count()) if any(_needs_total(n) for n in nodes.values()) else None
    for out_name, node in nodes.items():
        if isinstance(node, Op) and parse_ts_op(node.op) is not None:
            staged.append((out_name, node))
        else:
            scalar_cols.append(lower_to_column(node, total).alias(out_name))
    out = df.select("*", *scalar_cols) if scalar_cols else df

    batched: dict[tuple, list] = {}
    for out_name, node in staged:
        kind, p = parse_ts_op(node.op)
        child_names = [c.name for c in node.children]
        date_col = child_names[0] if child_names else ts_col
        groups = child_names[1:-1]
        value = child_names[-1]
        offset = p.pop("offset", None)

        if kind == "lag":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.lag_feature(s, d, g, v, p["n"], p["unit"], out_col=o)  # noqa: E501,E731
        elif kind == "roll":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.roll_feature(s, d, g, v, p["n"], p["unit"], p["agg"], out_col=o)  # noqa: E501,E731
        elif kind == "delta":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.delta_feature(s, d, g, v, p["n"], p["unit"], order=p["order"], out_col=o)  # noqa: E501,E731
        elif kind == "roll_vol":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.rolling_volatility(s, d, g, v, p["n"], p["unit"], out_col=o)  # noqa: E501,E731
        elif kind == "vol_ratio":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.volatility_ratio(s, d, g, v, p["short"], p["long"], p["unit"], out_col=o)  # noqa: E501,E731
        elif kind == "ewma_vol":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.ewma_volatility(s, d, g, v, p["span"], out_col=o)  # noqa: E501,E731
        elif kind == "trend_coef":
            fn = lambda s, p=p, d=date_col, g=groups, v=value, o=out_name: TS.trend_coefficient(s, d, g, v, out_col=o)  # noqa: E501,E731
        elif kind == "cross":
            # children: (date, descriptor columns..., value); descriptor
            # VALUES selecting the two series come from the fit params
            # exactly like the reference's pydantic fields
            import json as _json

            def _p(key):
                v = node.params.get(key)
                return _json.loads(v) if isinstance(v, str) else v

            op_fn = _CROSS_OPS.get(p["op"])
            if op_fn is None:
                raise ValueError(f"unsupported cross interaction op {p['op']!r}")
            fn = lambda s, p=p, op_fn=op_fn, d=date_col, g=groups, v=value, o=out_name, _pp=_p: TS.cross_series_interaction(  # noqa: E501,E731
                s, d, g,
                _pp("left_descriptor"), _pp("right_descriptor"),
                v, op_fn, out_col=o,
            )
        else:
            raise ValueError(kind)
        # window-native kinds sharing (date, groups, value, offset) batch
        # into ONE slim pass + ONE join-back (ts_features_parity); the
        # kernel/reshaping kinds (ewma Arrow kernel, cross-series pivot)
        # keep their own stage
        if kind in ("lag", "roll", "delta", "roll_vol", "vol_ratio", "trend_coef"):
            bucket_key = (date_col, tuple(groups), value, offset)
            batched.setdefault(bucket_key, []).append((out_name, kind, p, fn))
        else:
            out = TS.ts_features_parity(
                out, date_col, groups, value, [(out_name, fn)],
                order_col=order_col, offset=offset,
            )
    for (date_col, groups_t, value, offset), entries in batched.items():
        # single-pass masked form when EVERY kind in the bucket supports
        # it (range-framed lag / null-ignoring roll, no exact-ts offset):
        # same results, no slim re-execution of the upstream plan and no
        # (groups, ts) join-back — see TS.ts_features_masked
        maskable = offset is None and all(
            k == "lag" or (k == "roll" and pp.get("agg") in TS._MASKED_ROLL_AGGS)
            for _o, k, pp, _f in entries
        )
        if maskable:
            out = TS.ts_features_masked(
                out, date_col, list(groups_t), value,
                [(o, k, pp) for o, k, pp, _f in entries],
                order_col=order_col,
            )
        else:
            out = TS.ts_features_parity(
                out, date_col, list(groups_t), value,
                [(o, f) for o, _k, _pp, f in entries],
                order_col=order_col, offset=offset,
            )
    return out


# Server-side / external-model operators: the reference declares them for
# formula round-trip but computes them remotely (unary.py:151-156,
# vector.py:36-76). We preserve registry identity and fail loudly at
# lowering time. `cluster` lowered locally in round 3 (nearest fitted
# centroid, params-replayable) — only genuinely-external models remain.
SERVER_SIDE_OPS = {"emb", "onnx", "catboost"}


def is_server_side(op_name: str) -> bool:
    return op_name in SERVER_SIDE_OPS or any(
        op_name.startswith(p + "_") for p in SERVER_SIDE_OPS
    )


# --------------------------------------------------------------------------
# Feature protocol: display names, stable hash, fit-param round-trip
# (reference src/upgini/autofe/feature.py:81-218, operator.py:70-116)
# --------------------------------------------------------------------------

# formula-name → display alias (reference per-op `alias` attrs)
OP_ALIASES = {
    "+": "add", "-": "sub", "*": "mul", "/": "div",
    "date_diff": "date_diff_type1", "date_per": "date_per_method1",
}

_UNARY_OPS = {
    "abs", "log", "sqrt", "square", "sigmoid", "floor", "residual",
    "freq", "norm", "bin", "emb", "cluster", "outlier_dist",
}


def op_display_name(op: str, use_alias: bool = True) -> str:
    return (OP_ALIASES.get(op, op) if use_alias else op).lower()


def get_columns(node: Node) -> list[str]:
    """Dedup'd source columns in appearance order (feature.py:166-174)."""
    if isinstance(node, Col):
        return [node.name]
    out: list[str] = []
    seen: set[str] = set()
    for c in node.children:
        for name in get_columns(c):
            if name not in seen:
                seen.add(name)
                out.append(name)
    return out


def display_name(
    node: Node,
    index: str | int | None = None,
    shorten: bool = False,
    use_op_alias: bool = True,
    alias: str | None = None,
) -> str:
    """get_display_name parity (feature.py:183-218):
    ``f_<col>_f_<col>_autofe_<op>[_<idx>]``; unary/TS ops over a non-column
    child STACK onto the child's display name; ``shorten`` collapses the
    column list for non-unary ops; an explicit alias wins."""
    if isinstance(node, Col):
        return node.name
    is_unary_like = node.op in _UNARY_OPS or parse_ts_op(node.op) is not None
    should_stack = is_unary_like and isinstance(node.children[-1], Op)
    if alias:
        components = ["f_autofe", alias]
    elif should_stack:
        components = [
            display_name(node.children[-1], shorten=shorten, use_op_alias=use_op_alias),
            op_display_name(node.op, use_op_alias),
        ]
    elif shorten and node.op not in _UNARY_OPS:
        components = ["f_autofe", op_display_name(node.op, use_op_alias)]
    else:
        components = ["f_" + "_f_".join(get_columns(node)), "autofe",
                      op_display_name(node.op, use_op_alias)]
    if index is not None:
        components.append(str(index))
    return "_".join(components)


def feature_hash(node: Op) -> str:
    """get_hash parity (feature.py:129-137): sha256 of the op formula name,
    Op-children formula names, and all children display names — first 10
    hex chars. Stable across sessions (pure function of the DAG)."""
    import hashlib

    parts = (
        [node.op]
        + [c.op for c in node.children if isinstance(c, Op)]
        + [display_name(c) for c in node.children]
    )
    return hashlib.sha256("_".join(parts).encode("utf-8")).hexdigest()[:10]


# fit-learned parameter keys per op (operator get_params overrides)
_PARAM_KEYS = {
    "norm": ["norm"],
    "bin": ["bin_bounds"],
    "date_per": ["zero_month", "zero_year", "zero_bounds", "step"],
    "freq": ["total"],          # engine param: fit-time row count
    "CombineThenFreq": ["total"],
}


def _param_keys(op: str) -> list[str]:
    if op == "outlier_dist" or op.startswith("outlier_dist_"):
        return ["centroid"]
    if op.startswith("cross_"):
        return ["descriptor_indices", "left_descriptor", "right_descriptor"]
    if op == "cluster" or op.startswith("cluster_"):
        return ["centroids"]
    return _PARAM_KEYS.get(op, [])


def get_op_params(node: Op) -> dict[str, str]:
    """Flatten the DAG's fit params into one dict, child entries prefixed
    with the child's display name (feature.py:115-127). Values stringified;
    None dropped. json-encodes list params (zero_bounds, bin_bounds)."""
    import json

    own: dict[str, str] = {}
    alias = OP_ALIASES.get(node.op)
    if alias is not None:
        own["alias"] = alias
    for k in _param_keys(node.op):
        v = node.params.get(k)
        if v is not None:
            own[k] = json.dumps(v) if isinstance(v, (list, tuple)) else str(v)
    flat = {}
    for child in node.children:
        if isinstance(child, Op):
            prefix = display_name(child)
            for k, v in get_op_params(child).items():
                flat[f"{prefix}_{k}"] = v
    flat.update(own)
    return flat


def set_op_params(node: Op, params: dict[str, str]) -> Op:
    """Inverse of get_op_params (feature.py:97-113): apply own keys, then
    route prefixed entries to each child by display name; a child with no
    prefixed entries receives the full dict (reference fallback)."""
    import json

    for k in _param_keys(node.op):
        if k in params:
            v = params[k]
            if isinstance(v, str) and v[:1] in "[{":
                v = json.loads(v)
            node.params[k] = v
    for child in node.children:
        if not isinstance(child, Op):
            continue
        prefix = display_name(child) + "_"
        child_params = {
            k[len(prefix):]: v for k, v in params.items() if k.startswith(prefix)
        }
        set_op_params(child, child_params or params)
    return node


def get_all_operand_names(node: Node) -> set[str]:
    """All operator formula names in the DAG (feature.py:141-145)."""
    if isinstance(node, Col):
        return set()
    out = {node.op}
    for c in node.children:
        out |= get_all_operand_names(c)
    return out


def rename_columns(node: Node, mapping: dict[str, str]) -> Node:
    """Rename source columns throughout the DAG (feature.py:147-152)."""
    if isinstance(node, Col):
        node.name = mapping.get(node.name, node.name)
        return node
    for c in node.children:
        rename_columns(c, mapping)
    return node


def rename_op_params(node: Node, mapping: dict[str, str]) -> Node:
    """Operator.rename_params parity (operator.py:92-116): rewrite column
    names inside param KEYS, longest-old-name-first to avoid partial
    overlaps; recurses through the DAG (feature.py:154-159)."""
    if isinstance(node, Col):
        return node
    if node.params and mapping:
        replacements = sorted(mapping.items(), key=lambda kv: -len(kv[0]))
        renamed: dict = {}
        for key, value in node.params.items():
            new_key = key
            for old, new in replacements:
                if old and old in new_key:
                    new_key = new_key.replace(old, new)
            renamed[new_key] = value
        node.params = renamed
    for c in node.children:
        rename_op_params(c, mapping)
    return node
