"""The warp kernel: full reference-semantics reprojection + resampling.

Re-creates the entire pipeline of geowarp(options) (geowarp.js:113-1002)
as vectorized numpy.  One call warps one (source window, output grid)
pair; the Spark engine parallelizes calls per partition inside
``mapInPandas`` stages (see geowarp_spark.operators.warp_tiles).

Pipeline stages mirror the reference lifecycle (SURVEY.md §3):
  1. validate/normalize   geowarp.js:167-251
  2. derive geometry      geowarp.js:174-349
  3. compile process      geowarp.js:253-287  (expr | band-map, round)
  4. cutline -> segments  geowarp.js:355-415
  5. physical strategy    geowarp.js:583-604  (near-vectorize cost rule)
  6. execute kernel       near geowarp.js:704-740 / bilinear 741-844 /
                          box-stats 845-968 / vectorize 613-703
  7. materialize          geowarp.js:970-985

Pinned parity semantics:
  - JS Math.round = half-toward-+inf (stats.js_round)     geowarp.js:257
  - read_bands defaults to uniq(out_bands) sorted DESC    geowarp.js:37,235
  - mode ties -> smallest value                           geowarp.js:65-86,860
  - bilinear invalid-corner fallback tree                 geowarp.js:793-833
  - degenerate box window -> 1px at center                geowarp.js:917-926
  - box out-of-raster test asymmetry                      geowarp.js:929
  - per-sample NaN-throw skip (projection edge)           geowarp.js:894-904
  - out-of-bounds near/bilinear -> primary_in_no_data     geowarp.js:716-718
  - sample replication for out_resolution < 1             geowarp.js:506-521
"""

from __future__ import annotations

import numpy as np

from .affine import Geotransform
from .bbox import BboxNaNError, boolean_intersects, intersect, reproject_bbox
from .layout import from_brc, to_brc
from .proj import transformer
from .scanline import rasterize_segments, segflip, segments_to_mask
from .stats import js_round, reduce_windows

_MAX_GATHER = 8_000_000  # elements per window-gather batch (spill guard)


def _scale_integer(n, r):
    """scaleInteger (geowarp.js:23-26)."""
    n2 = int(js_round(n * r))
    return n2, n2 / n, n / n2


def _uniq_desc(arr):
    """uniq = distinct + sort DESC (geowarp.js:37)."""
    return sorted(set(arr), reverse=True)


def _as_xy_transform(fn):
    """Accept Transformer objects, (xs,ys)->(xs,ys) callables, or
    point-closures pt->[x,y] (the reference's contract, geowarp.js:149)."""
    if fn is None:
        return None
    if hasattr(fn, "transform"):
        return fn.transform
    return fn


def warp(
    *,
    in_data,
    in_bbox=None,
    in_geotransform=None,
    in_layout="[band][row,column]",
    in_srs=None,
    in_height=None,
    in_width=None,
    in_pixel_depth=None,
    in_pixel_height=None,
    in_pixel_width=None,
    in_no_data=None,
    out_dtype=None,
    out_bands=None,
    out_pixel_depth=None,
    out_bbox=None,
    out_layout=None,
    out_resolution=(1.0, 1.0),
    out_srs=None,
    out_width=256,
    out_height=256,
    out_no_data=None,
    method="median",
    read_bands=None,
    row_start=0,
    row_end=None,
    col_start=0,
    col_end=None,
    expr=None,
    round_values=False,
    theoretical_min=None,
    theoretical_max=None,
    inverse=None,
    forward=None,
    cutline=None,
    cutline_bbox=None,  # perf hint: precomputed bbox of cutline in cutline_srs
    cutline_srs=None,
    cutline_forward=None,
    cutline_strategy="outside",
    turbo=False,
    insert_null_strategy="skip",
    skip_no_data_strategy=None,
    cache_process=None,
    out_array_types=None,
    insert_pixel=None,
    insert_sample=None,
):
    # ------------------------------------------------ 1. validate/normalize
    if out_height is None or out_width is None or np.isnan(out_height) or np.isnan(out_width):
        raise ValueError("out_height/out_width required")
    if not in_height or not in_width:
        raise ValueError("in_height and in_width required")

    hs, y_resolution, y_scale = _scale_integer(out_height, out_resolution[1])
    ws, x_resolution, x_scale = _scale_integer(out_width, out_resolution[0])

    same_srs = in_srs == out_srs
    inverse = _as_xy_transform(inverse)
    forward = _as_xy_transform(forward)
    if not same_srs:
        if in_bbox is None:
            raise ValueError("can't reproject without in_bbox")
        if inverse is None:
            inverse = transformer(out_srs, in_srs).transform
        if forward is None:
            forward = transformer(in_srs, out_srs).transform
        if out_bbox is None:
            out_bbox = reproject_bbox(in_bbox, forward, density=100)
    elif out_bbox is None:
        out_bbox = in_bbox

    # canonical (B,H,W) block
    if isinstance(in_data, np.ndarray) and in_data.ndim == 3:
        block = np.ascontiguousarray(in_data)
        in_pixel_depth = block.shape[0]
    else:
        if in_pixel_depth is None:
            if in_layout.startswith("[band]"):
                in_pixel_depth = len(in_data)
            elif in_layout == "[row][column][band]":
                in_pixel_depth = len(in_data[0][0])
            elif in_layout == "[row,column][band]":
                in_pixel_depth = len(in_data[0])
            else:
                flat_len = np.asarray(in_data).size
                in_pixel_depth = flat_len // (in_height * in_width)
        block = to_brc(in_data, in_layout, in_pixel_depth, in_height, in_width)
    src_dtype = block.dtype
    fblock = block.astype(np.float64, copy=False)

    if read_bands is None:
        if expr is not None:
            read_bands = list(range(in_pixel_depth))
        elif out_bands is not None:
            read_bands = _uniq_desc(out_bands)
        else:
            read_bands = list(range(in_pixel_depth))
    if out_bands is None:
        out_bands = list(read_bands)
    if out_layout is None:
        out_layout = in_layout

    if round_values and isinstance(out_no_data, (int, float)) and not isinstance(out_no_data, bool):
        out_no_data = float(js_round(out_no_data))

    if in_no_data is None:
        nodata = []
    elif isinstance(in_no_data, (list, tuple, np.ndarray)):
        nodata = [float(v) for v in in_no_data]
    else:
        nodata = [float(in_no_data)]
    primary = nodata[0] if nodata else np.nan
    fill_out = np.nan if out_no_data is None else float(out_no_data)

    # theoretical bounds from dtype (geowarp.js:336-349) — used only by the
    # short-circuit aggregates in the reference; numpy reductions don't need
    # them, kept for API parity.
    if theoretical_min is None or theoretical_max is None:
        if np.issubdtype(src_dtype, np.integer):
            info = np.iinfo(src_dtype)
            theoretical_min = theoretical_min if theoretical_min is not None else info.min
            theoretical_max = theoretical_max if theoretical_max is not None else info.max

    # ------------------------------------------------ 2. geometry
    in_xmin, in_ymin, in_xmax, in_ymax = (float(v) for v in in_bbox)
    if in_pixel_height is None:
        in_pixel_height = (in_ymax - in_ymin) / in_height
    if in_pixel_width is None:
        in_pixel_width = (in_xmax - in_xmin) / in_width
    if in_geotransform is None:
        in_geotransform = [in_xmin, in_pixel_width, 0.0, in_ymax, 0.0, -in_pixel_height]
    gt = Geotransform(in_geotransform)

    out_xmin, out_ymin, out_xmax, out_ymax = (float(v) for v in out_bbox)
    out_pixel_height = (out_ymax - out_ymin) / out_height
    out_pixel_width = (out_xmax - out_xmin) / out_width
    out_sample_height = out_pixel_height * y_scale
    out_sample_width = out_pixel_width * x_scale
    half_h = out_sample_height / 2.0
    half_w = out_sample_width / 2.0

    def out_srs_to_in_img(xs, ys):
        if same_srs:
            return gt.inverse(xs, ys)
        ix, iy = inverse(xs, ys)
        return gt.inverse(ix, iy)

    def in_img_to_out_srs(cols, rows):
        xs, ys = gt.forward(cols, rows)
        if same_srs:
            return xs, ys
        return forward(xs, ys)

    # ------------------------------------------------ 4. cutline segments
    out_col_max = ws - 1
    if cutline is not None:
        cl = cutline
        if cutline_srs is not None and cutline_srs != out_srs:
            cf = _as_xy_transform(cutline_forward)
            if cf is None:
                cf = transformer(cutline_srs, out_srs).transform
            cl = _reproject_geojson(cl, cf)
        segments_by_row = rasterize_segments(cl, out_bbox, hs, ws)
        if cutline_strategy == "inside":
            segments_by_row = [
                [[0, out_col_max]] if not segs else segflip(segs, 0, out_col_max)
                for segs in segments_by_row
            ]
        cutline_eff = cl
    else:
        segments_by_row = [[[0, out_col_max]] for _ in range(hs)]
        cutline_eff = None

    keep_mask = segments_to_mask(segments_by_row, ws)

    rmax = min(row_end if row_end is not None else hs, hs)
    row_sel = np.zeros(hs, dtype=bool)
    row_sel[row_start:rmax] = True
    keep_mask = keep_mask & row_sel[:, None]
    # col range: not a reference option (geowarp.js has only row ranges)
    # but the chunk-anchored plan's ownership pruning is rectangular —
    # restricting columns the same way lets a chunk that owns a narrow
    # column sliver of a tile skip the other columns' box gathers
    # (the keep mask gates the expensive per-sample window reduction
    # in _kernel_boxstats; near/bilinear are full-grid vectorized and
    # unaffected).  Samples outside the range hold fill, exactly like
    # rows outside row_start/row_end.
    if col_start or col_end is not None:
        cmax = min(col_end if col_end is not None else ws, ws)
        col_sel = np.zeros(ws, dtype=bool)
        col_sel[col_start:cmax] = True
        keep_mask = keep_mask & col_sel[None, :]

    # ------------------------------------------------ 3. process pipeline
    rb_idx = np.asarray(read_bands, dtype=np.int64)
    if expr is not None:
        # R5 (geowarp.js:437-450): memoize expr over distinct pixels when
        # the sampled histogram predicts a high cache-hit rate
        if cache_process is None:
            from .stats import predicted_cache_hit_rate

            cache_process = predicted_cache_hit_rate(fblock[rb_idx]) >= 0.85

        def process(vals):  # vals: (B_read, N) -> (B_out, N)
            if cache_process and vals.shape[1] > 256:
                uniq, inv = np.unique(vals.T, axis=0, return_inverse=True)
                px = np.asarray(expr(uniq.T), dtype=np.float64)[:, inv]
            else:
                px = np.asarray(expr(vals), dtype=np.float64)
            if round_values:
                px = js_round(px)
            return px

    else:
        ob2rb = np.asarray([read_bands.index(b) for b in out_bands], dtype=np.int64)

        def process(vals):
            sel = vals[ob2rb]
            invalid = ~np.isfinite(sel)
            if nodata:
                invalid |= np.isin(sel, nodata)
            mapped = np.where(invalid, fill_out, sel)
            if round_values:
                mapped = np.where(invalid, mapped, js_round(mapped))
            return mapped

    if skip_no_data_strategy == "any":

        def should_skip(vals):
            bad = ~np.isfinite(vals)
            if nodata:
                bad |= np.isin(vals, nodata)
            return bad.any(axis=0)

    elif skip_no_data_strategy == "all":

        def should_skip(vals):
            bad = ~np.isfinite(vals)
            if nodata:
                bad |= np.isin(vals, nodata)
            return bad.all(axis=0)

    else:
        should_skip = None

    # ------------------------------------------------ 5. physical strategy
    out_bbox_in_srs = None
    if method in ("near-vectorize", "nearest-vectorize"):
        out_bbox_in_srs = (
            out_bbox if same_srs else reproject_bbox(out_bbox, inverse, density=100, nan_strategy="skip")
        )
        oshs = (out_bbox_in_srs[3] - out_bbox_in_srs[1]) / hs
        osws = (out_bbox_in_srs[2] - out_bbox_in_srs[0]) / ws
        if oshs / in_pixel_height < 0.1 and osws / in_pixel_width < 0.1:
            method = "vectorize"
        else:
            method = "near"

    # ------------------------------------------------ 6. execute
    n_read = len(read_bands)
    gathered = np.full((n_read, hs, ws), np.nan)
    written = np.zeros((hs, ws), dtype=bool)

    if method in ("near", "nearest"):
        _kernel_near(
            gathered, written, keep_mask, fblock, rb_idx, out_srs_to_in_img,
            out_xmin, out_ymax, out_sample_width, out_sample_height, half_w, half_h,
            in_width, in_height, primary, turbo,
        )
    elif method == "bilinear":
        _kernel_bilinear(
            gathered, written, keep_mask, fblock, rb_idx, out_srs_to_in_img,
            out_xmin, out_ymax, out_sample_width, out_sample_height, half_w, half_h,
            in_width, in_height, primary, nodata, turbo,
        )
    elif method == "vectorize":
        out_block, written = _kernel_vectorize(
            fblock, rb_idx, process, should_skip, segments_by_row, keep_mask,
            in_bbox, out_bbox, out_bbox_in_srs, hs, ws, in_width, in_height,
            same_srs, inverse, in_img_to_out_srs, gt, cutline_eff, cutline_strategy,
            in_xmin, in_ymin, in_xmax, in_ymax, nodata,
            # the hint bbox is in cutline_srs coords — usable as the in-srs
            # cutline bbox only when those frames coincide
            cutline_bbox=cutline_bbox if (cutline_srs == in_srs or
                                          (cutline_srs is None and same_srs)) else None,
            turbo=turbo,
        )
        return _materialize(
            out_block, written, hs, ws, x_scale, y_scale, out_width, out_height,
            out_layout, out_dtype, fill_out, out_bands, read_bands,
            out_pixel_height, out_pixel_width, out_sample_height, out_sample_width,
            out_pixel_depth, out_array_types, insert_pixel, insert_sample,
            insert_null_strategy,
        )
    else:
        _kernel_boxstats(
            gathered, written, keep_mask, fblock, rb_idx, out_srs_to_in_img,
            out_xmin, out_ymax, out_sample_width, out_sample_height,
            in_width, in_height, primary, nodata, method, turbo,
        )

    # shared tail for gather-style kernels: skip filter -> process -> insert
    flat_written = written.reshape(-1)
    vals = gathered.reshape(n_read, -1)[:, flat_written]
    if should_skip is not None:
        skip = should_skip(vals)
        idx = np.flatnonzero(flat_written)
        flat_written[idx[skip]] = False
        vals = vals[:, ~skip]
    px = process(vals)
    n_out = px.shape[0]
    out_block = np.full((n_out, hs, ws), np.nan)
    out_block.reshape(n_out, -1)[:, flat_written] = px
    written = flat_written.reshape(hs, ws)

    return _materialize(
        out_block, written, hs, ws, x_scale, y_scale, out_width, out_height,
        out_layout, out_dtype, fill_out, out_bands, read_bands,
        out_pixel_height, out_pixel_width, out_sample_height, out_sample_width,
        out_pixel_depth, out_array_types, insert_pixel, insert_sample,
        insert_null_strategy,
    )


# --------------------------------------------------------------- kernels


def _sample_centers(out_xmin, out_ymax, sw, sh, half_w, half_h, hs, ws):
    cols = np.arange(ws, dtype=np.float64)
    rows = np.arange(hs, dtype=np.float64)
    xs = out_xmin + cols * sw + half_w  # geowarp.js:530,754
    ys = out_ymax - rows * sh - half_h  # geowarp.js:531,746-749
    return np.meshgrid(xs, ys)


def _kernel_near(gathered, written, keep, fblock, rb_idx, to_img,
                 out_xmin, out_ymax, sw, sh, half_w, half_h,
                 in_w, in_h, primary, turbo):
    """near: inverse-sample gather (geowarp.js:704-740, J3)."""
    hs, ws = keep.shape
    gx, gy = _sample_centers(out_xmin, out_ymax, sw, sh, half_w, half_h, hs, ws)
    if turbo:
        cx, cy = _turbo_inverse(to_img, gx, gy)
        ix = js_round(cx).astype(np.int64)
        iy = js_round(cy).astype(np.int64)
    else:
        cx, cy = to_img(gx.reshape(-1), gy.reshape(-1))
        with np.errstate(invalid="ignore"):
            ix = np.floor(cx).reshape(hs, ws)
            iy = np.floor(cy).reshape(hs, ws)
        bad = ~np.isfinite(ix) | ~np.isfinite(iy)
        ix = np.where(bad, -1, ix).astype(np.int64)
        iy = np.where(bad, -1, iy).astype(np.int64)
    inb = (ix >= 0) & (iy >= 0) & (ix < in_w) & (iy < in_h)
    icl = np.clip(ix, 0, in_w - 1)
    jcl = np.clip(iy, 0, in_h - 1)
    vals = fblock[rb_idx[:, None, None], jcl[None], icl[None]]
    vals = np.where(inb[None], vals, primary)
    gathered[:] = np.where(keep[None], vals, np.nan)
    written[:] = keep


def _grid_interp(ex, ey, ri, ci, hs, ws):
    """Bilinear interpolation of coarse-grid samples back to full size."""
    r_pos = np.interp(np.arange(hs), ri, np.arange(len(ri), dtype=np.float64))
    c_pos = np.interp(np.arange(ws), ci, np.arange(len(ci), dtype=np.float64))
    r0 = np.clip(np.floor(r_pos).astype(int), 0, len(ri) - 2)
    c0 = np.clip(np.floor(c_pos).astype(int), 0, len(ci) - 2)
    fr = (r_pos - r0)[:, None]
    fc = (c_pos - c0)[None, :]

    def interp(e):
        a = e[r0][:, c0]
        b = e[r0][:, c0 + 1]
        c = e[r0 + 1][:, c0]
        d = e[r0 + 1][:, c0 + 1]
        return a * (1 - fr) * (1 - fc) + b * (1 - fr) * fc + c * fr * (1 - fc) + d * fr * fc

    return interp(ex), interp(ey)


def _turbo_inverse(to_img, gx, gy):
    """Turbo approximate transform (R6, geowarp.js:538-547): evaluate the
    exact floored inverse on a coarse grid and bilinearly interpolate, then
    the caller rounds — mirroring proj-turbo's grid fit + Math.round."""
    hs, ws = gx.shape
    step = 16
    ri = np.unique(np.r_[np.arange(0, hs, step), hs - 1])
    ci = np.unique(np.r_[np.arange(0, ws, step), ws - 1])
    sx, sy = np.meshgrid(ci, ri)
    ex, ey = to_img(gx[sy, sx].reshape(-1), gy[sy, sx].reshape(-1))
    ex = np.floor(ex).reshape(len(ri), len(ci))
    ey = np.floor(ey).reshape(len(ri), len(ci))
    return _grid_interp(ex, ey, ri, ci, hs, ws)


def _turbo_fit_axes(fn, xs, ys, step=16):
    """proj-turbo grid fit over a SEPARABLE rectangular grid (R6): sample
    the exact transform on a coarse subgrid of the ys x xs lattice and
    bilinearly interpolate to full resolution.  Serves the bilinear,
    box-stats and vectorize kernels (the reference turbocharges both
    forward and inverse and uses them in every kernel, geowarp.js:551-580).
    Returns (X, Y) arrays of shape (len(ys), len(xs)).  Grids too small to
    fit fall through to the exact transform."""
    nr, nc = len(ys), len(xs)
    if nr < 4 or nc < 4:
        gx, gy = np.meshgrid(xs, ys)
        X, Y = fn(gx.reshape(-1), gy.reshape(-1))
        return (np.asarray(X, dtype=np.float64).reshape(nr, nc),
                np.asarray(Y, dtype=np.float64).reshape(nr, nc))
    ri = np.unique(np.r_[np.arange(0, nr, step), nr - 1])
    ci = np.unique(np.r_[np.arange(0, nc, step), nc - 1])
    sx, sy = np.meshgrid(np.asarray(xs)[ci], np.asarray(ys)[ri])
    ex, ey = fn(sx.reshape(-1), sy.reshape(-1))
    ex = np.asarray(ex, dtype=np.float64).reshape(len(ri), len(ci))
    ey = np.asarray(ey, dtype=np.float64).reshape(len(ri), len(ci))
    return _grid_interp(ex, ey, ri, ci, nr, nc)


def _kernel_bilinear(gathered, written, keep, fblock, rb_idx, to_img,
                     out_xmin, out_ymax, sw, sh, half_w, half_h,
                     in_w, in_h, primary, nodata, turbo=False):
    """bilinear with the reference's invalid-corner fallback tree
    (geowarp.js:741-844)."""
    hs, ws = keep.shape
    if turbo:
        xs = out_xmin + np.arange(ws, dtype=np.float64) * sw + half_w
        ys = out_ymax - np.arange(hs, dtype=np.float64) * sh - half_h
        cxg, cyg = _turbo_fit_axes(to_img, xs, ys)
        cx, cy = cxg.reshape(-1), cyg.reshape(-1)
    else:
        gx, gy = _sample_centers(out_xmin, out_ymax, sw, sh, half_w, half_h, hs, ws)
        cx, cy = to_img(gx.reshape(-1), gy.reshape(-1))
    cx = np.asarray(cx, dtype=np.float64)
    cy = np.asarray(cy, dtype=np.float64)
    with np.errstate(invalid="ignore"):
        left = np.floor(cx)
        right = np.ceil(cx)
        top = np.floor(cy)
        bottom = np.ceil(cy)
    finite = np.isfinite(cx) & np.isfinite(cy)
    left = np.where(finite, left, -1)
    right = np.where(finite, right, -1)
    top = np.where(finite, top, -1)
    bottom = np.where(finite, bottom, -1)

    lw = right - cx
    rw = cx - left
    tb_same = top == bottom
    tw = np.where(tb_same, 0.5, bottom - cy)
    bw = np.where(tb_same, 0.5, cy - top)

    l_out = (left < 0) | (left >= in_w)
    r_out = (right < 0) | (right >= in_w)
    t_out = (top < 0) | (top >= in_h)
    b_out = (bottom < 0) | (bottom >= in_h)

    li = np.clip(left, 0, in_w - 1).astype(np.int64)
    ri_ = np.clip(right, 0, in_w - 1).astype(np.int64)
    ti = np.clip(top, 0, in_h - 1).astype(np.int64)
    bi = np.clip(bottom, 0, in_h - 1).astype(np.int64)

    def corner(rows, cols, outside):
        v = fblock[rb_idx[:, None], rows[None], cols[None]]
        return np.where(outside[None], primary, v)

    ul = corner(ti, li, t_out | l_out)
    ur = corner(ti, ri_, t_out | r_out)
    ll = corner(bi, li, b_out | l_out)
    lr = corner(bi, ri_, b_out | r_out)

    def inv(v):
        bad = ~np.isfinite(v)
        if nodata:
            bad |= np.isin(v, nodata)
        return bad

    def pair(a, b, a_inv, b_inv, wa, wb):
        both = a_inv & b_inv
        same = a == b
        val = np.where(a_inv, b, np.where(b_inv, a, np.where(same, a, wa * a + wb * b)))
        return np.where(both, np.nan, val)

    topv = pair(ul, ur, inv(ul), inv(ur), lw[None], rw[None])
    botv = pair(ll, lr, inv(ll), inv(lr), lw[None], rw[None])
    t_nan = np.isnan(topv)
    b_nan = np.isnan(botv)
    val = np.where(
        t_nan & b_nan, primary,
        np.where(t_nan, botv, np.where(b_nan, topv, bw[None] * botv + tw[None] * topv)),
    )
    vals = val.reshape(len(rb_idx), hs, ws)
    gathered[:] = np.where(keep[None], vals, np.nan)
    written[:] = keep


def _kernel_boxstats(gathered, written, keep, fblock, rb_idx, to_img,
                     out_xmin, out_ymax, sw, sh, in_w, in_h, primary, nodata,
                     method, turbo=False):
    """box-statistic resampling (geowarp.js:845-968, A1-A10)."""
    hs, ws = keep.shape
    rows = np.arange(hs, dtype=np.float64)
    cols = np.arange(ws, dtype=np.float64)
    top_y = out_ymax - rows * sh
    bot_y = top_y - sh
    left_x = out_xmin + cols * sw
    right_x = left_x + sw

    if turbo:
        # the 4 box corners per sample all live on the (hs+1) x (ws+1)
        # EDGE lattice — one turbo grid fit serves every corner set
        xs_e = out_xmin + np.arange(ws + 1, dtype=np.float64) * sw
        ys_e = out_ymax - np.arange(hs + 1, dtype=np.float64) * sh
        EX, EY = _turbo_fit_axes(to_img, xs_e, ys_e)
        # corner order matches the exact path: (l,b) (r,b) (l,t) (r,t)
        px = np.stack([EX[1:, :-1].ravel(), EX[1:, 1:].ravel(),
                       EX[:-1, :-1].ravel(), EX[:-1, 1:].ravel()])
        py = np.stack([EY[1:, :-1].ravel(), EY[1:, 1:].ravel(),
                       EY[:-1, :-1].ravel(), EY[:-1, 1:].ravel()])
    else:
        # 4 corners of every sample box, transformed in bulk
        lx = np.broadcast_to(left_x[None, :], (hs, ws)).reshape(-1)
        rx = np.broadcast_to(right_x[None, :], (hs, ws)).reshape(-1)
        ty = np.broadcast_to(top_y[:, None], (hs, ws)).reshape(-1)
        by = np.broadcast_to(bot_y[:, None], (hs, ws)).reshape(-1)
        cxs = np.concatenate([lx, rx, lx, rx])
        cys = np.concatenate([by, by, ty, ty])
        px, py = to_img(cxs, cys)
        px = np.asarray(px, dtype=np.float64).reshape(4, -1)
        py = np.asarray(py, dtype=np.float64).reshape(4, -1)
    ok = np.isfinite(px).all(axis=0) & np.isfinite(py).all(axis=0)  # nan_strategy=throw -> skip pixel

    with np.errstate(invalid="ignore"):
        l_img = np.nanmin(np.where(np.isfinite(px), px, np.nan), axis=0)
        r_img = np.nanmax(np.where(np.isfinite(px), px, np.nan), axis=0)
        t_img = np.nanmin(np.where(np.isfinite(py), py, np.nan), axis=0)
        b_img = np.nanmax(np.where(np.isfinite(py), py, np.nan), axis=0)
    l_img = np.where(ok, l_img, 0.0)
    r_img = np.where(ok, r_img, 0.0)
    t_img = np.where(ok, t_img, 0.0)
    b_img = np.where(ok, b_img, 0.0)

    ls = js_round(l_img).astype(np.int64)
    rs = js_round(r_img).astype(np.int64)
    ts = js_round(t_img).astype(np.int64)
    bs = js_round(b_img).astype(np.int64)

    # degenerate window -> 1 px at center (geowarp.js:917-926)
    degx = ls == rs
    xc = np.floor((r_img + l_img) / 2.0).astype(np.int64)
    ls = np.where(degx, xc, ls)
    rs = np.where(degx, xc + 1, rs)
    degy = ts == bs
    yc = np.floor((t_img + b_img) / 2.0).astype(np.int64)
    ts = np.where(degy, yc, ts)
    bs = np.where(degy, yc + 1, bs)

    outside = (ls >= in_w) | (rs < 0) | (bs < 0) | (ts >= in_h)  # geowarp.js:929

    lc = np.maximum(0, ls)
    rc = np.minimum(rs, in_w)
    tc = np.maximum(0, ts)
    bc = np.minimum(bs, in_h)
    # inclusive window [tc, max(tc, bc-1)] x [lc, max(lc, rc-1)] (geowarp.js:947-948)
    wr1 = np.maximum(tc, bc - 1)
    wc1 = np.maximum(lc, rc - 1)
    wh = wr1 - tc + 1
    ww = wc1 - lc + 1

    kflat = keep.reshape(-1) & ok
    inside = kflat & ~outside
    out_flat = kflat & outside

    n_read = len(rb_idx)
    gflat = gathered.reshape(n_read, -1)
    gflat[:, out_flat] = primary

    idx_all = np.flatnonzero(inside)
    if idx_all.size:
        sizes = wh[idx_all] * 10_000_000 + ww[idx_all]
        for size_key in np.unique(sizes):
            grp = idx_all[sizes == size_key]
            h_i = int(wh[grp[0]])
            w_i = int(ww[grp[0]])
            batch = max(1, _MAX_GATHER // max(1, h_i * w_i))
            for s in range(0, grp.size, batch):
                g = grp[s : s + batch]
                rr = tc[g][:, None, None] + np.arange(h_i)[None, :, None]
                cc = lc[g][:, None, None] + np.arange(w_i)[None, None, :]
                win = fblock[rb_idx[:, None, None, None], rr[None], cc[None]]
                win = win.reshape(n_read, g.size, h_i * w_i)
                valid = np.isfinite(win)
                if nodata:
                    valid &= ~np.isin(win, nodata)
                for bi in range(n_read):
                    red = reduce_windows(win[bi], valid[bi], method)
                    gflat[bi, g] = np.where(np.isnan(red), primary, red)

    written[:] = (kflat).reshape(hs, ws)


def _kernel_vectorize(fblock, rb_idx, process, should_skip, segments_by_row, keep_mask,
                      in_bbox, out_bbox, out_bbox_in_srs, hs, ws, in_w, in_h,
                      same_srs, inverse, in_img_to_out_srs, gt, cutline, cutline_strategy,
                      in_xmin, in_ymin, in_xmax, in_ymax, nodata, cutline_bbox=None,
                      turbo=False):
    """forward-paint "vectorize" kernel (geowarp.js:613-703, J2):
    each input pixel's quad is reprojected into output space and
    rasterized onto the output sample grid it overlaps; later pixels
    overwrite earlier ones (row-asc, col-asc scan)."""
    n_read = len(rb_idx)
    out_block = np.full((len(rb_idx) if process is None else 0, 0, 0), np.nan)
    written = np.zeros((hs, ws), dtype=bool)
    out_vals = None  # allocated after first processed pixel (depth inference)

    if out_bbox_in_srs is None:
        out_bbox_in_srs = (
            out_bbox if same_srs else reproject_bbox(out_bbox, inverse, density=100, nan_strategy="skip")
        )
    sample_bbox = list(out_bbox_in_srs)
    if cutline is not None:
        cut_in_srs = cutline if same_srs else _reproject_geojson(cutline, inverse)
        # cutline_bbox hint (geowarp.js:151) skips the geometry bbox scan
        cb = list(cutline_bbox) if cutline_bbox is not None else _geojson_bbox(cut_in_srs)
        if not boolean_intersects(in_bbox, cb):
            return np.full((n_read, hs, ws), np.nan), written
        if cutline_strategy != "inside":
            inter = intersect(out_bbox_in_srs, cb)
            if inter is None:
                return np.full((n_read, hs, ws), np.nan), written
            sample_bbox = inter
    left, bottom, right, top = sample_bbox

    # reference pruning quirk preserved verbatim (geowarp.js:646; SURVEY §5
    # notes the suspicious `|| top < in_ymin`)
    if not ((left < in_xmax and bottom < in_ymax and right > in_xmin) or top < in_ymin):
        return np.full((n_read, hs, ws), np.nan), written

    img_bbox = reproject_bbox(out_bbox_in_srs, lambda xs, ys: gt.inverse(xs, ys))
    if not boolean_intersects(img_bbox, [0, 0, in_w, in_h]):
        return np.full((n_read, hs, ws), np.nan), written

    c0, r0, c1, r1 = (int(np.floor(v)) for v in img_bbox)
    r0 = min(max(r0, 0), in_h - 1)
    r1 = min(max(r1, 0), in_h - 1)
    c0 = min(max(c0, 0), in_w - 1)
    c1 = min(max(c1, 0), in_w - 1)

    # bulk-transform the (r1-r0+2) x (c1-c0+2) grid of pixel corners once
    gc = np.arange(c0, c1 + 2, dtype=np.float64)
    gr = np.arange(r0, r1 + 2, dtype=np.float64)
    if turbo:
        # forward turbo (geowarp.js:551-566): grid-fit the forward
        # transform over the input pixel-corner lattice
        qx, qy = _turbo_fit_axes(in_img_to_out_srs, gc, gr)
    else:
        mc, mr = np.meshgrid(gc, gr)
        qx, qy = in_img_to_out_srs(mc.reshape(-1), mr.reshape(-1))
        qx = np.asarray(qx, dtype=np.float64).reshape(len(gr), len(gc))
        qy = np.asarray(qy, dtype=np.float64).reshape(len(gr), len(gc))

    # process all candidate pixels at once
    nrows = r1 - r0 + 1
    ncols = c1 - c0 + 1
    raw = fblock[rb_idx[:, None, None], np.arange(r0, r1 + 1)[None, :, None], np.arange(c0, c1 + 1)[None, None, :]]
    raw2 = raw.reshape(n_read, -1)
    px_all = process(raw2)
    n_out = px_all.shape[0]
    out_vals = np.full((n_out, hs, ws), np.nan)
    skip = should_skip(raw2).reshape(nrows, ncols) if should_skip is not None else None

    out_xmin, out_ymin, out_xmax, out_ymax = (float(v) for v in out_bbox)
    pw = (out_xmax - out_xmin) / ws
    ph = (out_ymax - out_ymin) / hs

    # ---- batched quad scanline (VERDICT r1 'What's wrong' #4) ----
    # The reference paints quads one-by-one in row-asc/col-asc order with
    # later quads overwriting earlier ones (geowarp.js:674-698).  That is
    # equivalent to: per out pixel, the MAX quad id whose polygon covers
    # the pixel center.  All 4*Q quad edges are processed as one event
    # table: crossings per (out row, quad) -> even-odd paired spans ->
    # np.maximum.at painter.  No per-quad Python iteration.
    qid_grid = np.arange(nrows * ncols, dtype=np.int64).reshape(nrows, ncols)
    # quad corners: A=(r,c) B=(r,c+1) C=(r+1,c+1) D=(r+1,c); edges AB BC CD DA
    ax, ay = qx[:-1, :-1], qy[:-1, :-1]
    bx, by = qx[:-1, 1:], qy[:-1, 1:]
    cx_, cy_ = qx[1:, 1:], qy[1:, 1:]
    dx_, dy_ = qx[1:, :-1], qy[1:, :-1]
    ex0 = np.concatenate([ax.ravel(), bx.ravel(), cx_.ravel(), dx_.ravel()])
    ey0 = np.concatenate([ay.ravel(), by.ravel(), cy_.ravel(), dy_.ravel()])
    ex1 = np.concatenate([bx.ravel(), cx_.ravel(), dx_.ravel(), ax.ravel()])
    ey1 = np.concatenate([by.ravel(), cy_.ravel(), dy_.ravel(), ay.ravel()])
    eqid = np.tile(qid_grid.ravel(), 4)

    good = np.isfinite(ex0) & np.isfinite(ey0) & np.isfinite(ex1) & np.isfinite(ey1)
    good &= ey0 != ey1  # horizontal edges never cross a scanline strictly
    if skip is not None:
        good &= ~skip.ravel()[eqid]
    ex0, ey0, ex1, ey1, eqid = ex0[good], ey0[good], ex1[good], ey1[good], eqid[good]

    if eqid.size:
        ylo = np.minimum(ey0, ey1)
        yhi = np.maximum(ey0, ey1)
        # scanline y at out row r: out_ymax - (r+0.5)*ph (scanline.py:82);
        # candidate rows are over-approximated by +-1 and re-filtered with
        # the EXACT float test below, so exact vertex/scanline coincidences
        # behave identically to the per-quad reference path
        r_lo = np.clip(np.floor((out_ymax - yhi) / ph - 0.5).astype(np.int64) - 1, 0, hs)
        r_hi = np.clip(np.ceil((out_ymax - ylo) / ph - 0.5).astype(np.int64) + 2, 0, hs)
        lens = np.maximum(r_hi - r_lo, 0)
        n_inc = int(lens.sum())
        if n_inc:
            eidx = np.repeat(np.arange(eqid.size), lens)
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            rows_inc = np.repeat(r_lo, lens) + (np.arange(n_inc) - np.repeat(starts, lens))
            y_inc = out_ymax - (rows_inc + 0.5) * ph
            crosses = (y_inc >= ylo[eidx]) & (y_inc < yhi[eidx])
            eidx, rows_inc, y_inc = eidx[crosses], rows_inc[crosses], y_inc[crosses]
            t = (y_inc - ey0[eidx]) / (ey1[eidx] - ey0[eidx])
            x_inc = ex0[eidx] + t * (ex1[eidx] - ex0[eidx])
            q_inc = eqid[eidx]
            # even-odd pairing per (row, quad): lexsort then alternate
            order = np.lexsort((x_inc, q_inc, rows_inc))
            x_s = x_inc[order]
            q_s = q_inc[order]
            r_s = rows_inc[order]
            newgrp = np.empty(order.size, dtype=bool)
            newgrp[0] = True
            newgrp[1:] = (q_s[1:] != q_s[:-1]) | (r_s[1:] != r_s[:-1])
            grp_start = np.maximum.accumulate(np.where(newgrp, np.arange(order.size), 0))
            pos = np.arange(order.size) - grp_start
            # closed rings + half-open crossing test give even group sizes;
            # a numerically degenerate odd group drops its trailing crossing
            # (same as the reference's range(0, n-1, 2) pairing) without
            # shifting the parity of other groups
            grp_id = np.cumsum(newgrp) - 1
            glen = np.bincount(grp_id)
            glen_of = glen[grp_id]
            in_pos = (pos % 2 == 0) & (pos < 2 * (glen_of // 2))
            out_pos = pos % 2 == 1
            x_in = x_s[in_pos]
            x_out = x_s[out_pos]
            span_q = q_s[in_pos]
            span_r = r_s[in_pos]
            c0 = np.ceil((x_in - out_xmin) / pw - 0.5).astype(np.int64)
            c1 = np.floor((x_out - out_xmin) / pw - 0.5).astype(np.int64)
            c0 = np.maximum(c0, 0)
            c1 = np.minimum(c1, ws - 1)
            ok_span = c0 <= c1
            c0, c1, span_q, span_r = c0[ok_span], c1[ok_span], span_q[ok_span], span_r[ok_span]
            # paint: winner per pixel = max quad id (later input pixels in
            # the row-asc/col-asc scan have larger ids and overwrite)
            winner = np.full(hs * ws, -1, dtype=np.int64)
            plens = c1 - c0 + 1
            n_px = int(plens.sum())
            if n_px:
                pstarts = np.concatenate([[0], np.cumsum(plens)[:-1]])
                flat = (np.repeat(span_r * ws + c0, plens)
                        + (np.arange(n_px) - np.repeat(pstarts, plens)))
                np.maximum.at(winner, flat, np.repeat(span_q, plens))
            win2d = winner.reshape(hs, ws)
            if cutline is not None:
                win2d = np.where(segments_to_mask(segments_by_row, ws), win2d, -1)
            written = win2d >= 0
            wq = win2d[written]
            out_vals[:, written] = px_all[:, wq]
    return out_vals, written


# --------------------------------------------------------------- helpers


def _reproject_geojson(geometry, transform):
    """Reproject GeoJSON-ish geometry through a bulk (xs,ys) transform
    (reproject-geojson dep, geowarp.js:11)."""
    if isinstance(geometry, dict):
        g = dict(geometry)
        if g.get("type") == "Feature":
            g["geometry"] = _reproject_geojson(g["geometry"], transform)
            return g
        if g.get("type") == "FeatureCollection":
            g["features"] = [_reproject_geojson(f, transform) for f in g["features"]]
            return g
        g["coordinates"] = _reproject_coords(g["coordinates"], transform)
        return g
    return _reproject_coords(geometry, transform)


def _reproject_coords(coords, transform):
    arr = coords
    if isinstance(arr, (list, tuple)) and arr and isinstance(arr[0], (list, tuple, np.ndarray)) and not np.isscalar(arr[0][0]):
        return [_reproject_coords(c, transform) for c in arr]
    pts = np.asarray(arr, dtype=np.float64)
    xs, ys = transform(pts[:, 0], pts[:, 1])
    return np.stack([xs, ys], axis=1).tolist()


def _geojson_bbox(geometry):
    rings = []

    def collect(c):
        if isinstance(c, dict):
            if c.get("type") == "Feature":
                collect(c["geometry"])
            elif c.get("type") == "FeatureCollection":
                for f in c["features"]:
                    collect(f)
            else:
                collect(c["coordinates"])
            return
        arr = c
        if isinstance(arr, (list, tuple)) and arr and isinstance(arr[0], (list, tuple, np.ndarray)) and not np.isscalar(arr[0][0]):
            for sub in arr:
                collect(sub)
        else:
            rings.append(np.asarray(arr, dtype=np.float64))

    collect(geometry)
    pts = np.concatenate(rings, axis=0)
    return [pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()]


def _cast_band(band, dtype):
    dt = np.dtype(dtype)
    if np.issubdtype(dt, np.integer):
        band = np.nan_to_num(band, nan=0.0, posinf=0.0, neginf=0.0)
    return band.astype(dt)


def _materialize(out_block, written, hs, ws, x_scale, y_scale, out_width, out_height,
                 out_layout, out_dtype, fill_out, out_bands, read_bands,
                 out_pixel_height, out_pixel_width, out_sample_height, out_sample_width,
                 out_pixel_depth, out_array_types=None, insert_pixel=None,
                 insert_sample=None, insert_null_strategy="skip"):
    """Sample-grid -> full output grid with footprint replication (L4,
    geowarp.js:506-521 insert_sample + scalePixel), fill, dtype, layout.

    ``out_array_types``: per-band dtype list (geowarp.js:477-483 allocates
    one typed array per band via xdim) — honored when the out layout's
    outermost group is [band]; heterogeneous dtypes with an interleaved
    layout are a contradiction and raise.

    ``insert_sample`` / ``insert_pixel``: pluggable output sinks (S6,
    geowarp.js:157-158, README.md:177-193).  The reference calls them
    per-scalar; here the contract is VECTORIZED — each callable is invoked
    once per band with (band_index, rows, cols, values) numpy arrays
    covering every written sample (insert_sample, pre-replication sample
    grid) / output pixel (insert_pixel, final grid).  The normal envelope
    is still returned.
    """
    n_out = out_block.shape[0]
    if hs == out_height and ws == out_width:
        full = out_block
        wfull = written
    else:
        # column C is covered by sample c iff round(c*xs) <= C < round((c+1)*xs)
        col_edges = js_round(np.arange(ws + 1, dtype=np.float64) * x_scale).astype(np.int64)
        row_edges = js_round(np.arange(hs + 1, dtype=np.float64) * y_scale).astype(np.int64)
        col_map = np.searchsorted(col_edges, np.arange(out_width), side="right") - 1
        row_map = np.searchsorted(row_edges, np.arange(out_height), side="right") - 1
        col_map = np.clip(col_map, 0, ws - 1)
        row_map = np.clip(row_map, 0, hs - 1)
        full = out_block[:, row_map][:, :, col_map]
        wfull = written[row_map][:, col_map]

    band_dtypes = None
    if out_array_types:
        band_dtypes = [np.dtype(t) for t in out_array_types]
        if len(band_dtypes) < n_out:
            band_dtypes += [band_dtypes[-1]] * (n_out - len(band_dtypes))

    if insert_sample is not None:
        sr, sc = np.nonzero(written)
        for bi in range(n_out):
            v = out_block[bi, sr, sc]
            # P5 insert_null_strategy (geowarp.js:152,514-519): 'skip'
            # never hands null samples to the pluggable sink; 'insert'
            # forwards them (as NaN) so the sink decides
            if insert_null_strategy == "skip":
                keep_s = np.isfinite(v)
                bsr, bsc, bv = sr[keep_s], sc[keep_s], v[keep_s]
            else:
                bsr, bsc, bv = sr, sc, v
            if band_dtypes:
                bv = _cast_band(bv, band_dtypes[bi])
            elif out_dtype is not None:
                bv = _cast_band(bv, out_dtype)
            insert_sample(bi, bsr, bsc, bv)

    data = np.where(wfull[None], full, fill_out)
    if band_dtypes is not None:
        uniq_dts = set(band_dtypes[:n_out])
        if len(uniq_dts) > 1 and not out_layout.startswith("[band]"):
            raise ValueError(
                "heterogeneous out_array_types require a [band]-outer "
                f"layout, got {out_layout!r}")
        per_band = [_cast_band(data[bi], band_dtypes[bi]) for bi in range(n_out)]
        if len(uniq_dts) == 1:
            data = np.stack(per_band)
        else:
            # canonical block uses the widest common dtype; the layout
            # envelope below carries the true per-band typed arrays
            common = np.result_type(*band_dtypes[:n_out])
            data = np.stack([b.astype(common) for b in per_band])
    elif out_dtype is not None:
        data = _cast_band(data, out_dtype)
        per_band = None
    else:
        per_band = None

    if insert_pixel is not None:
        pr, pc = np.nonzero(wfull)
        for bi in range(n_out):
            src = per_band[bi] if band_dtypes is not None else data[bi]
            insert_pixel(bi, pr, pc, src[pr, pc])

    if band_dtypes is not None and len(set(band_dtypes[:n_out])) > 1:
        # [band]-outer layouts: emit the true per-band typed arrays
        if out_layout == "[band][row,column]":
            env_data = [np.ascontiguousarray(b).reshape(-1) for b in per_band]
        else:  # [band][row][column]
            env_data = [[np.ascontiguousarray(r) for r in b] for b in per_band]
    else:
        env_data = from_brc(data, out_layout)

    return {
        "data": env_data,
        "block": data,  # canonical (B,H,W) ndarray for Spark sinks
        "out_bands": list(out_bands),
        "out_height": out_height,
        "out_layout": out_layout,
        "out_pixel_depth": out_pixel_depth if out_pixel_depth is not None else n_out,
        "out_pixel_height": out_pixel_height,
        "out_pixel_width": out_pixel_width,
        "out_sample_height": out_sample_height,
        "out_sample_width": out_sample_width,
        "out_width": out_width,
        "read_bands": list(read_bands),
    }
