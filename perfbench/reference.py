"""Independent references for every workload, computed once in set-up.

* ``geo_join``, ``geo_zonal`` and ``dedup``: the engine's own DuckDB oracles
  (``__spark_entry__.oracle_sql()``: ``spatial_join``, ``media_zonal``,
  ``minhash_lsh`` and ``dedup_groups``), run over the generated input registered as the oracle's
  ``documents`` view. They share no code with the Spark path.
* ``cube``: a closed-form numpy evaluation of the whole raster pipeline on the
  global pixel grid (no tiles, no halos, no partials).
* ``cell_write``: per-cell row counts and salt slots derived from the document
  formulas in Python.

Each ``check_*`` returns ``None`` when the pass output matches and a short
reason string when it does not.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd

from . import inputs

#: the features of the ``geo_zonal`` section (the engine's ``media_zonal`` query)
ZONAL_RECTS = [(0, 3.89995, 50.59995, 4.80005, 51.50005), (1, -180.0, -90.0, 180.0, 90.0)]
#: digests are rounded half away from zero to this many digits by the engine
DIGEST_DIGITS = 4


def _duckdb(view: str, frame: pd.DataFrame, sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.register(view, frame)
        return con.execute(sql).df()
    finally:
        con.close()


# -- geo ---------------------------------------------------------------------


def join_reference(ids: np.ndarray, oracles: dict[str, str]) -> pd.DataFrame:
    docs = pd.DataFrame({"doc_id": ids})
    return _sorted_keys(_duckdb("documents", docs, oracles["spatial_join"]),
                        ["doc_id", "span_idx", "feature_index"])


def zonal_reference(ids: np.ndarray, oracles: dict[str, str]) -> pd.DataFrame:
    docs = pd.DataFrame({"doc_id": ids})
    zonal = _duckdb("documents", docs, oracles["media_zonal"])
    return zonal.sort_values(["date", "feature_index", "band"]).reset_index(drop=True)


def _sorted_keys(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    out = df[cols].copy()
    for c in cols[1:]:
        out[c] = out[c].astype(np.int64)
    return out.sort_values(cols).reset_index(drop=True)


def check_join(ref: pd.DataFrame, join: pd.DataFrame) -> str | None:
    got = _sorted_keys(join, ["doc_id", "span_idx", "feature_index"])
    if not got.equals(ref):
        return f"spatial join: {len(got)} rows, reference {len(ref)}"
    return None


def check_zonal(ref: pd.DataFrame, zonal: pd.DataFrame) -> str | None:
    z = zonal.sort_values(["date", "feature_index", "band"]).reset_index(drop=True)
    if len(z) != len(ref) or not all(
        (z[k].to_numpy() == ref[k].to_numpy()).all()
        for k in ("date", "feature_index", "band", "count")
    ):
        return "zonal: keys or counts differ"
    # both sides round the mean to 6 digits; allow one unit of that rounding
    if not np.allclose(z["mean"].to_numpy(float), ref["mean"].to_numpy(float),
                       rtol=0, atol=1.5e-6, equal_nan=True):
        return "zonal: means differ"
    return None


# -- dedup -------------------------------------------------------------------

VERIFY_THRESHOLD = 0.5


def dedup_reference(ids: np.ndarray, texts: list[str], oracles: dict[str, str]) -> dict:
    docs = pd.DataFrame({"doc_id": ids, "text": texts})
    pairs = _duckdb("documents", docs, oracles["minhash_lsh"])
    pairs = pairs[pairs["jaccard"] >= VERIFY_THRESHOLD]
    groups = _duckdb("documents", docs, oracles["dedup_groups"])
    return {
        "pairs": pairs.sort_values(["id_a", "id_b"]).reset_index(drop=True),
        "groups": _sorted_keys(groups.astype(np.int64), ["id", "component"]),
    }


def check_dedup(ref: dict, groups: pd.DataFrame, pairs: pd.DataFrame | None = None) -> str | None:
    """Groups always; the verified pairs too when the pass materialised them."""
    got = _sorted_keys(groups.astype(np.int64), ["id", "component"])
    if not got.equals(ref["groups"]):
        return f"dedup groups: {len(got)} ids, reference {len(ref['groups'])}"
    if pairs is not None:
        p = pairs.sort_values(["id_a", "id_b"]).reset_index(drop=True)
        want = ref["pairs"]
        if len(p) != len(want) or not (
            (p["id_a"].to_numpy() == want["id_a"].to_numpy()).all()
            and (p["id_b"].to_numpy() == want["id_b"].to_numpy()).all()
            and np.allclose(p["jaccard"].to_numpy(float), want["jaccard"].to_numpy(float),
                            rtol=0, atol=1e-6)
        ):
            return f"verified pairs: {len(p)}, reference {len(want)}"
    return None


# -- cube --------------------------------------------------------------------


def cube_value(coeffs, d, b, c, r, py, px):
    """Pixel of band ``b`` on date ``d`` at tile ``(c, r)``, pixel ``(py, px)``
    — the ``value_fn`` handed to ``arithmetic_cube``. Values are 1..97 (an
    NDVI denominator is never 0); nodata where the mask term hits 0 mod 13."""
    k0, k1, k2, k3, k4, k5, k6 = coeffs
    v = ((px * k0 + py * k1 + c * k2 + r * k3 + d * k4 + b * k5) % 97 + 1).astype(np.float64)
    v[(px + py + c + r + d + b * k6) % 13 == 0] = np.nan
    return v


def _round_half_away(x: np.ndarray, digits: int) -> np.ndarray:
    k = 10.0**digits
    return np.copysign(np.floor(np.abs(x) * k + 0.5) / k, x)


def cube_reference(coeffs, cols: int, rows: int, tile: int, n_dates: int) -> pd.DataFrame:
    """Digest rows ``(date, col, row, band, cnt, sm, mn, mx)`` of
    NDVI -> 3x3 mean kernel -> 2x average downscale, evaluated on the global
    pixel grid of each date."""
    H, W = rows * tile, cols * tile
    gy, gx = np.mgrid[0:H, 0:W]
    r, py = np.divmod(gy, tile)
    c, px = np.divmod(gx, tile)
    th = tile  # target tiles keep the pixel size of source tiles
    out = []
    for d in range(n_dates):
        b0 = cube_value(coeffs, d, 0, c, r, py, px)
        b1 = cube_value(coeffs, d, 1, c, r, py, px)
        ndvi = (b1 - b0) / (b1 + b0)
        # 3x3 mean: nodata and outside-the-layout pixels contribute 0; a
        # nodata centre stays nodata
        z = np.pad(np.nan_to_num(ndvi, nan=0.0), 1)
        conv = sum(z[dy : dy + H, dx : dx + W] for dy in range(3) for dx in range(3)) / 9.0
        conv[np.isnan(ndvi)] = np.nan
        # average of the valid pixels of each 2x2 block
        blocks = conv.reshape(H // 2, 2, W // 2, 2)
        cnt = (~np.isnan(blocks)).sum(axis=(1, 3))
        with np.errstate(invalid="ignore"):
            avg = np.nansum(blocks, axis=(1, 3)) / np.where(cnt > 0, cnt, 1)
        avg[cnt == 0] = np.nan
        for tr in range(H // 2 // th):
            for tc in range(W // 2 // th):
                t = avg[tr * th : (tr + 1) * th, tc * th : (tc + 1) * th]
                v = t[~np.isnan(t)]
                row = [inputs.DATES[d], tc, tr, 0, int(v.size)]
                if v.size:
                    row += [float(v.sum()), float(v.min()), float(v.max())]
                else:
                    row += [math.nan] * 3
                out.append(row)
    ref = pd.DataFrame(out, columns=["date", "col", "row", "band", "cnt", "sm", "mn", "mx"])
    for k in ("sm", "mn", "mx"):
        ref[k] = _round_half_away(ref[k].to_numpy(), DIGEST_DIGITS)
    return ref.sort_values(["date", "col", "row", "band"]).reset_index(drop=True)


def check_cube(ref: pd.DataFrame, digest: pd.DataFrame) -> str | None:
    got = digest.sort_values(["date", "col", "row", "band"]).reset_index(drop=True)
    keys = ["date", "col", "row", "band", "cnt"]
    if len(got) != len(ref) or not all(
        (got[k].to_numpy() == ref[k].to_numpy()).all() for k in keys
    ):
        return f"cube digest: {len(got)} rows, keys or counts differ from the reference"
    # sums run in a different order on each side; one unit of the rounding
    # digit covers a flipped tie
    tol = 1.5 * 10.0**-DIGEST_DIGITS
    for k in ("sm", "mn", "mx"):
        if not np.allclose(got[k].to_numpy(float), ref[k].to_numpy(float),
                           rtol=1e-9, atol=tol, equal_nan=True):
            return f"cube digest: column {k} differs from the reference"
    return None


# -- cell_write ---------------------------------------------------------------

CELL_RES = 4


def cell_reference(ids: np.ndarray, rows_per_salt: int) -> dict[int, tuple[int, int]]:
    """cell id -> (rows, salt slots) for the geometry spans of ``ids``: the
    cell of each span's bbox centre at grid resolution ``CELL_RES``, and
    ``max(1, ceil(rows / rows_per_salt))`` slots per cell."""
    xs, ys = [], []
    for i in ids:
        for s in inputs._doc_spans(int(i)):
            if s["text"] is None or not s["text"].startswith("{"):
                continue
            g = json.loads(s["text"])
            if g["type"] == "Point":
                x, y = g["coordinates"]
                xs.append((x + x) / 2)
                ys.append((y + y) / 2)
            else:
                ring = g["coordinates"][0]
                xs.append((min(p[0] for p in ring) + max(p[0] for p in ring)) / 2)
                ys.append((min(p[1] for p in ring) + max(p[1] for p in ring)) / 2)
    size = 180.0 / 2**CELL_RES
    nx, ny = 2 ** (CELL_RES + 1), 2**CELL_RES
    cx = np.clip(np.floor((np.array(xs) - -180.0) / size), 0, nx - 1).astype(np.int64)
    cy = np.clip(np.floor((np.array(ys) - -90.0) / size), 0, ny - 1).astype(np.int64)
    cells = (np.int64(CELL_RES) << 56) | (cx << 28) | cy
    uniq, counts = np.unique(cells, return_counts=True)
    return {
        int(k): (int(n), max(1, math.ceil(n / rows_per_salt))) for k, n in zip(uniq, counts)
    }


def check_cells(ref: dict[int, tuple[int, int]], rows_per_bucket: dict[str, int]) -> str | None:
    """Written rows per cell must equal the reference and each cell must fill
    exactly its salt slots (bucket names are ``<cell>_<salt>``)."""
    rows: dict[int, int] = {}
    slots: dict[int, set[int]] = {}
    for bucket, n in rows_per_bucket.items():
        cell, salt = bucket.split("_")
        rows[int(cell)] = rows.get(int(cell), 0) + n
        slots.setdefault(int(cell), set()).add(int(salt))
    if rows != {k: v[0] for k, v in ref.items()}:
        return f"cell write: {sum(rows.values())} rows in {len(rows)} cells, " \
            f"reference {sum(v[0] for v in ref.values())} in {len(ref)}"
    for cell, (_, n_salt) in ref.items():
        if slots[cell] != set(range(n_salt)):
            return f"cell write: cell {cell} filled salts {sorted(slots[cell])}, expected {n_salt}"
    return None
