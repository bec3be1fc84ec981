"""openEO process-graph JSON -> composed numpy closure.

The reference compiles callback graphs (apply / reduce_dimension /
merge-overlap resolvers / mask conditions) through a Py4J-driven
builder/visitor into a closure tree ``OpenEOProcess = Map[String,Any] =>
Seq[Tile] => Seq[Tile]`` (OpenEOProcessScriptBuilder.scala:46, dispatch at
:1116-1213, stack machine :520-530). Ours compiles the same graph JSON
directly to a Python closure over numpy arrays — no JVM boundary, executed
inside Arrow pandas UDFs.

Value model inside a compiled closure:
  - scalars (float/int/bool)
  - numpy arrays, canonical float64 with NaN as nodata (matching the
    engine-wide tile decode; see core/tiles.decode_tiles)
  - "array" values: ndarray with the openEO array dimension on AXIS 0
    (a band list or a time stack), so reducers are axis-0 numpy calls.

Output cell-type propagation mirrors getOutputCellType
(OpenEOProcessScriptBuilder.scala:558-607, :1169-1171): comparisons/logicals
-> bool (uint8), count -> int32, everything else -> float32 unless an input
is float64.

Nodata (ignore_nodata=True default, per openEO spec): reducers use the
nan* variants; binary arithmetic propagates NaN (matching the reference's
default add/multiply behavior; sum/product with ignore_nodata use the
AddIgnoreNodata path, mapalgebra/AddIgnoreNodata.scala).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

Env = dict[str, Any]


@dataclass
class CompiledProcess:
    fn: Callable[[Env], Any]
    output_cell_type: str  # 'bool' | 'int32' | 'float32' | 'float64'


class ProcessCompileError(ValueError):
    pass


def _as_array(v):
    """array-typed argument -> ndarray with array dim on axis 0."""
    if isinstance(v, np.ndarray):
        return v
    if isinstance(v, (list, tuple)):
        return np.stack([np.asarray(x, dtype=np.float64) for x in v])
    return np.asarray([v], dtype=np.float64)


# -- binary / unary helpers (NaN-propagating by default) --------------------


def _binary(op):
    def f(x, y):
        with np.errstate(invalid="ignore", divide="ignore"):
            return op(x, y)

    return f


def _logical(op):
    """Boolean ops on float arrays: NaN input -> NaN output (reference
    boolean processes are nodata-propagating)."""

    def f(x, y):
        xa, ya = np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
        with np.errstate(invalid="ignore"):
            out = op(xa != 0, ya != 0).astype(np.float64)
        nan = np.isnan(xa) | np.isnan(ya)
        if np.ndim(out) == 0:
            return np.nan if nan else float(out)
        out[nan] = np.nan
        return out

    return f


def _cmp(op):
    def f(x, y):
        xa, ya = np.asarray(x, dtype=np.float64), np.asarray(y, dtype=np.float64)
        with np.errstate(invalid="ignore"):
            out = op(xa, ya).astype(np.float64)
        nan = np.isnan(xa) | np.isnan(ya)
        if np.ndim(out) == 0:
            return np.nan if nan else float(out)
        out[nan] = np.nan
        return out

    return f


def _reduce(nanop, op):
    def f(data, ignore_nodata=True):
        a = _as_array(data)
        with np.errstate(invalid="ignore", all="ignore"):
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                return (nanop if ignore_nodata else op)(a, axis=0)

    return f


def _quantiles(data, probabilities=None, q=None, ignore_nodata=True):
    a = _as_array(data)
    if q is not None:
        probabilities = [i / q for i in range(1, int(q))]
    fn = np.nanquantile if ignore_nodata else np.quantile
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return [fn(a, p, axis=0) for p in probabilities]


def _array_interpolate_linear(data):
    """Linear gap-fill along axis 0 (linearInterpolation,
    OpenEOProcessScriptBuilder.scala — search :1203): interior NaN runs are
    linearly interpolated; leading/trailing NaNs stay NaN."""
    a = _as_array(data).astype(np.float64).copy()
    n = a.shape[0]
    idx = np.arange(n, dtype=np.float64)
    flat = a.reshape(n, -1)
    for j in range(flat.shape[1]):
        col = flat[:, j]
        ok = ~np.isnan(col)
        if ok.sum() >= 2:
            first, last = np.argmax(ok), n - 1 - np.argmax(ok[::-1])
            fill = np.interp(idx, idx[ok], col[ok])
            fill[:first] = np.nan
            fill[last + 1 :] = np.nan
            flat[:, j] = np.where(np.isnan(col), fill, col)
    return flat.reshape(a.shape)


def _first(data, ignore_nodata=True):
    a = _as_array(data)
    if not ignore_nodata:
        return a[0]
    out = np.full(a.shape[1:] if a.ndim > 1 else (), np.nan)
    for i in range(a.shape[0] - 1, -1, -1):
        out = np.where(np.isnan(a[i]), out, a[i])
    return out


def _last(data, ignore_nodata=True):
    a = _as_array(data)
    if not ignore_nodata:
        return a[-1]
    out = np.full(a.shape[1:] if a.ndim > 1 else (), np.nan)
    for i in range(a.shape[0]):
        out = np.where(np.isnan(a[i]), out, a[i])
    return out


def _bool_reduce(data, nanop, op, ignore_nodata=True):
    """all/any: reduce booleans over axis 0; NaN ignored (or propagated)."""
    a = _as_array(data)
    b = np.where(np.isnan(a), np.nan, (a != 0).astype(np.float64))
    if ignore_nodata:
        allnan = np.isnan(b).all(axis=0)
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            r = nanop(b, axis=0)
        return np.where(allnan, np.nan, r)
    return op(b, axis=0)


def _if(value, accept, reject=None):
    v = np.asarray(value, dtype=np.float64)
    rej = np.nan if reject is None else reject
    if np.ndim(v) == 0:
        return accept if (not math.isnan(float(v)) and v != 0) else rej
    cond = (~np.isnan(v)) & (v != 0)
    return np.where(cond, accept, rej)


def _clip(x, min, max):  # noqa: A002 - openEO argument names
    with np.errstate(invalid="ignore"):
        return np.clip(x, min, max)


def _linear_scale_range(x, inputMin, inputMax, outputMin=0.0, outputMax=1.0):
    with np.errstate(invalid="ignore"):
        frac = (np.asarray(x, dtype=np.float64) - inputMin) / (inputMax - inputMin)
        frac = np.clip(frac, 0.0, 1.0)
        return frac * (outputMax - outputMin) + outputMin


def _count(data, condition=None):
    a = _as_array(data)
    if condition is True:
        return np.full(a.shape[1:], a.shape[0], dtype=np.float64)
    if condition is None:
        return (~np.isnan(a)).sum(axis=0).astype(np.float64)
    # condition is a compiled sub-process applied to each element
    acc = np.zeros(a.shape[1:], dtype=np.float64)
    for i in range(a.shape[0]):
        r = condition({"x": a[i]})
        acc += np.nan_to_num(np.asarray(r, dtype=np.float64), nan=0.0)
    return acc


def _array_apply(data, process):
    a = _as_array(data)
    return np.stack(
        [
            np.asarray(
                process({"x": a[i], "index": i}), dtype=np.float64
            )
            for i in range(a.shape[0])
        ]
    )


def _normalized_difference(x, y):
    with np.errstate(invalid="ignore", divide="ignore"):
        return (np.asarray(x, dtype=np.float64) - y) / (np.asarray(x, dtype=np.float64) + y)


def _log(x, base=10):
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.log(np.asarray(x, dtype=np.float64)) / np.log(base)


def _array_element(data, index=None, label=None, labels=None, return_nodata=False):
    a = _as_array(data)
    if index is None and label is not None and labels:
        index = list(labels).index(label)
    if index is None or index >= a.shape[0]:
        if return_nodata:
            return np.full(a.shape[1:], np.nan)
        raise IndexError(f"array_element index {index} out of bounds")
    return a[int(index)]


def _median(data, ignore_nodata=True):
    import warnings

    a = _as_array(data)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        return (np.nanmedian if ignore_nodata else np.median)(a, axis=0)


def _sum(data, ignore_nodata=True):
    a = _as_array(data)
    if ignore_nodata:
        allnan = np.isnan(a).all(axis=0)
        s = np.nansum(a, axis=0)
        return np.where(allnan, np.nan, s)
    return a.sum(axis=0)


def _product(data, ignore_nodata=True):
    a = _as_array(data)
    if ignore_nodata:
        allnan = np.isnan(a).all(axis=0)
        p = np.nanprod(a, axis=0)
        return np.where(allnan, np.nan, p)
    return a.prod(axis=0)


# -- date/time processes (OpenEOProcessScriptBuilder.scala:1116-1119,795-805)


def _parse_dt(s):
    from datetime import datetime

    s = str(s).replace("Z", "+00:00")
    try:
        return datetime.fromisoformat(s)
    except ValueError:
        return datetime.fromisoformat(s[:10])


def _date_difference(date1, date2, unit="second"):
    d = _parse_dt(date2) - _parse_dt(date1)
    sec = d.total_seconds()
    return {
        "second": sec, "minute": sec / 60, "hour": sec / 3600,
        "day": sec / 86400, "month": sec / 86400 / 30.4375,
        "year": sec / 86400 / 365.25,
    }[unit]


def _date_shift(date, value, unit):
    from datetime import timedelta

    dt = _parse_dt(date)
    value = int(value)
    if unit == "year":
        dt = dt.replace(year=dt.year + value)
    elif unit == "month":
        import calendar

        m = dt.month - 1 + value
        y, mo = dt.year + m // 12, m % 12 + 1
        # clamp day to the target month's length (openEO date_shift spec)
        dt = dt.replace(year=y, month=mo, day=min(dt.day, calendar.monthrange(y, mo)[1]))
    else:
        dt = dt + timedelta(**{unit + "s": value})
    return dt.isoformat()


def _date_between(x, min, max, exclude_max=False):  # noqa: A002
    dx, lo, hi = _parse_dt(x), _parse_dt(min), _parse_dt(max)
    return float(lo <= dx < hi if exclude_max else lo <= dx <= hi)


def _date_replace_component(date, value, component):
    dt = _parse_dt(date)
    return dt.replace(**{component: int(value)}).isoformat()


_PROCESSES: dict[str, Callable] = {
    # date/time
    "date_difference": _date_difference,
    "date_shift": _date_shift,
    "date_between": _date_between,
    "date_replace_component": _date_replace_component,
    # comparison (OpenEOProcessScriptBuilder.scala:1122-1128)
    "gt": _cmp(np.greater),
    "lt": _cmp(np.less),
    "gte": _cmp(np.greater_equal),
    "lte": _cmp(np.less_equal),
    "eq": _cmp(np.equal),
    "neq": _cmp(np.not_equal),
    "between": lambda x, min, max, exclude_max=False: _cmp(  # noqa: A002
        lambda a, _: (a >= min) & ((a < max) if exclude_max else (a <= max))
    )(x, 0),
    # boolean (:1130-1139)
    "not": lambda x: _logical(lambda a, _: ~a)(x, 0),
    "and": _logical(np.logical_and),
    "or": _logical(np.logical_or),
    "xor": _logical(np.logical_xor),
    "all": lambda data, ignore_nodata=True: _bool_reduce(data, np.nanmin, np.min, ignore_nodata),
    "any": lambda data, ignore_nodata=True: _bool_reduce(data, np.nanmax, np.max, ignore_nodata),
    "if": _if,
    # arithmetic (:1141-1155)
    "add": _binary(np.add),
    "subtract": _binary(np.subtract),
    "multiply": _binary(np.multiply),
    "divide": _binary(np.true_divide),
    "power": lambda base, p: _binary(np.power)(np.asarray(base, dtype=np.float64), p),
    "exp": lambda p: np.exp(np.asarray(p, dtype=np.float64)),
    "normalized_difference": _normalized_difference,
    "clip": _clip,
    "int": lambda x: np.trunc(np.asarray(x, dtype=np.float64)),
    "sum": _sum,
    "product": _product,
    # reducers (:1157-1171)
    "max": _reduce(np.nanmax, np.max),
    "min": _reduce(np.nanmin, np.min),
    "mean": _reduce(np.nanmean, np.mean),
    "variance": _reduce(
        lambda a, axis: np.nanvar(a, axis=axis, ddof=1),
        lambda a, axis: np.var(a, axis=axis, ddof=1),
    ),
    "sd": _reduce(
        lambda a, axis: np.nanstd(a, axis=axis, ddof=1),
        lambda a, axis: np.std(a, axis=axis, ddof=1),
    ),
    "median": _median,
    "count": _count,
    "first": _first,
    "last": _last,
    # unary math (:1173-1192)
    "abs": lambda x: np.abs(np.asarray(x, dtype=np.float64)),
    "ln": lambda x: _log(x, math.e),
    "log": _log,
    "sqrt": lambda x: np.sqrt(np.asarray(x, dtype=np.float64)),
    "ceil": lambda x: np.ceil(np.asarray(x, dtype=np.float64)),
    "floor": lambda x: np.floor(np.asarray(x, dtype=np.float64)),
    "round": lambda x, p=0: np.round(np.asarray(x, dtype=np.float64), p),
    "arccos": lambda x: np.arccos(np.asarray(x, dtype=np.float64)),
    "arcsin": lambda x: np.arcsin(np.asarray(x, dtype=np.float64)),
    "arctan": lambda x: np.arctan(np.asarray(x, dtype=np.float64)),
    "cos": lambda x: np.cos(np.asarray(x, dtype=np.float64)),
    "cosh": lambda x: np.cosh(np.asarray(x, dtype=np.float64)),
    "sin": lambda x: np.sin(np.asarray(x, dtype=np.float64)),
    "sinh": lambda x: np.sinh(np.asarray(x, dtype=np.float64)),
    "tan": lambda x: np.tan(np.asarray(x, dtype=np.float64)),
    "tanh": lambda x: np.tanh(np.asarray(x, dtype=np.float64)),
    # nodata tests (:1199-1200)
    "is_nodata": lambda x: np.isnan(np.asarray(x, dtype=np.float64)).astype(np.float64),
    "is_nan": lambda x: np.isnan(np.asarray(x, dtype=np.float64)).astype(np.float64),
    # array ops (:1201-1210)
    "array_element": _array_element,
    "array_create": lambda data=None, repeat=1: _as_array(
        (list(data) if data is not None else []) * int(repeat)
    ),
    "array_concat": lambda array1, array2: np.concatenate(
        [_as_array(array1), _as_array(array2)], axis=0
    ),
    "array_append": lambda data, value: np.concatenate(
        [_as_array(data), _as_array(value)[None] if np.ndim(value) == np.ndim(_as_array(data)) - 1 else _as_array([value])],
        axis=0,
    ),
    "array_apply": _array_apply,
    "array_find": lambda data, value: (
        float(idx[0][0]) if (idx := np.argwhere(
            np.all(_as_array(data) == value, axis=tuple(range(1, _as_array(data).ndim)))
            if _as_array(data).ndim > 1 else _as_array(data) == value
        )).size else np.nan
    ),
    "array_modify": lambda data, values, index, length=0: np.concatenate(
        [_as_array(data)[: int(index)], _as_array(values),
         _as_array(data)[int(index) + int(length):]], axis=0
    ),
    "array_interpolate_linear": _array_interpolate_linear,
    "linear_scale_range": _linear_scale_range,
    "quantiles": _quantiles,
}

# openEO alias (:1173-1192 routes 'absolute' to the same unary op as 'abs')
_PROCESSES["absolute"] = _PROCESSES["abs"]


def _log_process(default_level: str):
    """inspect/debug/warning/error (:1214-1220 region): log the message and
    pass ``data`` through unchanged — side-effect-only processes. inspect's
    own ``level`` argument overrides the process default."""

    def impl(data=None, message=None, code=None, level=None, **_kw):
        import logging

        lvl = (level or default_level).upper()
        logging.getLogger("openeo.processes").log(
            getattr(logging, lvl, logging.INFO),
            "%s %s", code or "", message if message is not None else "",
        )
        return data

    return impl


_PROCESSES["inspect"] = _log_process("info")
_PROCESSES["debug"] = _log_process("debug")
_PROCESSES["warning"] = _log_process("warning")
_PROCESSES["error"] = _log_process("error")


def _pixels_features(data) -> tuple[np.ndarray, tuple]:
    """(bands, ...) band stack -> (pixels x features matrix, spatial shape)."""
    a = np.asarray(data, dtype=np.float64)
    if a.ndim == 1:
        return a[None, :], ()
    return np.moveaxis(a, 0, -1).reshape(-1, a.shape[0]), a.shape[1:]


def _p_predict_random_forest(data, model):
    """Per-pixel RF inference (OpenEOProcessScriptBuilder.scala:1211):
    ``model`` is the numpy dump from pipeline.ml.rf_to_arrays (plain dict —
    broadcast-friendly, no JVM model in the closure)."""
    from ..pipeline.ml import eval_random_forest

    X, shape = _pixels_features(data)
    pred, _ = eval_random_forest(model, X)
    return pred.reshape(shape) if shape else float(pred[0])


def _p_predict_catboost(data, model):
    """Per-pixel CatBoost inference (:1212): ``model`` is a CatBoost JSON
    dump dict (or pre-parsed via pipeline.ml.parse_catboost_json)."""
    from ..pipeline.ml import eval_catboost, parse_catboost_json

    parsed = (
        model
        if isinstance(model, dict) and "scale" in model
        else parse_catboost_json(model)
    )
    X, shape = _pixels_features(data)
    raw = eval_catboost(parsed, X)
    return raw.reshape(shape) if shape else float(raw[0])


def _p_predict_probabilities(data, model):
    """Per-pixel class probabilities (:1213), ALWAYS a (classes, ...) stack
    regardless of model kind: RF numpy dumps yield (n_classes, y, x);
    binary CatBoost dumps yield (2, y, x) as [1 - sigmoid, sigmoid] so
    downstream array_element over the class axis works uniformly."""
    X, shape = _pixels_features(data)
    if isinstance(model, dict) and "n_classes" in model:
        from ..pipeline.ml import eval_random_forest

        _, probs = eval_random_forest(model, X)
        return probs.T.reshape((probs.shape[1],) + shape) if shape else probs[0]
    from ..pipeline.ml import eval_catboost, parse_catboost_json

    parsed = (
        model
        if isinstance(model, dict) and "scale" in model
        else parse_catboost_json(model)
    )
    raw = eval_catboost(parsed, X)
    p = 1.0 / (1.0 + np.exp(-raw))
    stacked = np.stack([1.0 - p, p])
    return stacked.reshape((2,) + shape) if shape else stacked[:, 0]


_PROCESSES["predict_random_forest"] = _p_predict_random_forest
_PROCESSES["predict_catboost"] = _p_predict_catboost
_PROCESSES["predict_probabilities"] = _p_predict_probabilities

#: processes whose result cell type is boolean (reference: comparison/logical
#: ops yield Bit tiles)
_BOOL_OUT = {"gt", "lt", "gte", "lte", "eq", "neq", "between", "not", "and",
             "or", "xor", "all", "any", "is_nodata", "is_nan"}
_INT_OUT = {"count"}  # :1169-1171


def compile_process_graph(graph: dict, default_input_type: str = "float32") -> CompiledProcess:
    """Compile an openEO process graph (dict of nodes) to a closure
    ``fn(env) -> value`` where env holds named parameters ('x', 'data', ...).
    """
    if not isinstance(graph, dict) or not graph:
        raise ProcessCompileError("empty process graph")
    # allow passing a bare node (single-process shorthand)
    if "process_id" in graph:
        graph = {"n": {**graph, "result": True}}

    result_nodes = [k for k, v in graph.items() if v.get("result")]
    if len(result_nodes) != 1:
        raise ProcessCompileError("process graph needs exactly one result node")

    memo_types: dict[str, str] = {}
    node_fns: dict[str, Callable[[Env], Any]] = {}

    def node_fn(node_id: str) -> Callable[[Env], Any]:
        if node_id in node_fns:
            return node_fns[node_id]
        node = graph[node_id]
        pid = node["process_id"]
        args = node.get("arguments", {})
        impl = _PROCESSES.get(pid)
        if impl is None:
            raise ProcessCompileError(f"unsupported process: {pid}")

        arg_fns: dict[str, Callable[[Env], Any]] = {}
        for name, val in args.items():
            arg_fns[name] = value_fn(val)

        # per-env value cache: a node feeding N consumers (diamond graphs)
        # evaluates ONCE per invocation — env dicts are constructed fresh per
        # .fn(env) call at every call site, so the reserved key cannot leak
        # across invocations
        def run(env: Env, _impl=impl, _fns=arg_fns, _nid=node_id):
            cache = env.setdefault("__node_values__", {})
            if _nid in cache:
                return cache[_nid]
            kwargs = {k: f(env) for k, f in _fns.items()}
            out = _impl(**kwargs)
            cache[_nid] = out
            return out

        node_fns[node_id] = run

        # track output type
        if pid in _BOOL_OUT:
            memo_types[node_id] = "bool"
        elif pid in _INT_OUT:
            memo_types[node_id] = "int32"
        else:
            memo_types[node_id] = (
                "float64" if default_input_type == "float64" else "float32"
            )
        return run

    def value_fn(val) -> Callable[[Env], Any]:
        if isinstance(val, dict) and "from_node" in val:
            sub = node_fn(val["from_node"])
            return sub
        if isinstance(val, dict) and "from_parameter" in val:
            pname = val["from_parameter"]
            return lambda env, _p=pname: env[_p]
        if isinstance(val, dict) and "process_graph" in val:
            # child callback (e.g. array_apply / count condition): callable
            # taking an env dict, like the parent closure
            child = compile_process_graph(val["process_graph"], default_input_type)
            return lambda env, _c=child: _c.fn
        if isinstance(val, list):
            fns = [value_fn(v) for v in val]
            return lambda env, _fs=fns: [f(env) for f in _fs]
        return lambda env, _v=val: _v

    root = node_fn(result_nodes[0])
    out_type = memo_types[result_nodes[0]]
    return CompiledProcess(fn=root, output_cell_type=out_type)
