"""Per-tile NumPy focal (moving-window) kernels — the reference core.

Re-expresses the moving-window indicators of ahhz/moving_window
(operators W1–W13, SURVEY.md §2.6) with Spark-friendly per-tile NumPy:
instead of the reference's incremental accumulator slide (O(edge) per
step), every kernel here is computed by *chord-decomposed sliding sums*
(exact; one prefix-sum chord per window row, so O(r) per cell and
O(r·H·W) per plane) or FFT correlation (weighted kernels). That is not
the paper's radius-near-independent cost (SURVEY.md §4.1): the
benchmark's radius sweep (perfbench focal_dense, one 318×318 padded
tile, circle window, 4-core Xeon host) measured focal_mean at 4.1 /
10.7 / 34.6 ms for r = 1 / 7 / 31, i.e. 3 / 15 / 63 chord rows.

Semantics pinned in SURVEY.md §5.3 (normative):
- inputs are float64 2-D arrays, NaN = nodata / outside-raster;
- window shapes: "square" = Chebyshev distance ≤ r; "circle" =
  Euclidean center distance ≤ r (closed), distances in cell units;
- boundary policy: shrinking window (outside cells don't exist);
  denominators count valid in-raster cells only;
- edges (W9–W10): rook-adjacent cell pairs; an edge is in the window
  iff BOTH endpoint cells are; edges touching nodata are excluded;
- patches (W11–W13): edge correction — a patch contributes its FULL
  area/attributes weighted by the fraction of its cells inside the
  window (see engine/patches.py for the identities used);
- mode tie → smallest class id; Shannon uses natural log; 0·ln0 = 0;
- means are sum/count at extract time (no running mean).

These functions operate on a single (already halo-padded) array and are
called inside ``applyInArrow`` groups by engine/tiling.py; they are
also called directly by the brute-force golden tests, which recompute
every output cell by explicit window enumeration.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "chords_for",
    "edge_planes",
    "focal_count",
    "focal_edge_density",
    "focal_extremum",
    "focal_gi_star",
    "focal_interspersion",
    "focal_majority",
    "focal_mean",
    "focal_minority",
    "focal_percentile",
    "focal_proportion",
    "focal_richness",
    "focal_shannon",
    "focal_sum",
    "focal_weighted_mean",
    "sliding_sum_chords",
    "weight_mask",
]

Shape = str  # "square" | "circle"


# ---------------------------------------------------------------------------
# footprint decomposition: every pinned footprint is a union of per-row
# chords {dy: [lo_dx, hi_dx]} — exact sliding sums need no convolution.
# ---------------------------------------------------------------------------

def chords_for(shape: Shape, r: int, element: str = "cell") -> list[tuple[int, int, int]]:
    """Footprint of the window as (dy, lo_dx, hi_dx) chords (inclusive).

    element:
      "cell"   — offsets of member cells relative to the center cell
      "hedge"  — offsets of horizontal-edge anchors (left endpoint):
                 edge (y,x)-(y,x+1) is in W iff both endpoints are
      "vedge"  — offsets of vertical-edge anchors (top endpoint)
    """
    if r < 0:
        raise ValueError("r must be >= 0")
    out: list[tuple[int, int, int]] = []
    if shape == "square":
        if element == "cell":
            return [(dy, -r, r) for dy in range(-r, r + 1)]
        if element == "hedge":
            return [(dy, -r, r - 1) for dy in range(-r, r + 1)] if r > 0 else []
        if element == "vedge":
            return [(dy, -r, r) for dy in range(-r, r)] if r > 0 else []
    elif shape == "circle":
        r2 = r * r
        if element == "cell":
            for dy in range(-r, r + 1):
                h = math.isqrt(r2 - dy * dy)
                out.append((dy, -h, h))
            return out
        if element == "hedge":
            # need dy² + dx² ≤ r² AND dy² + (dx+1)² ≤ r²  →  dx ∈ [-h, h-1]
            for dy in range(-r, r + 1):
                h = math.isqrt(r2 - dy * dy)
                if h >= 1:
                    out.append((dy, -h, h - 1))
            return out
        if element == "vedge":
            # endpoints (dy,dx),(dy+1,dx): dx² ≤ r² - max(dy,dy+1 by |·|)²
            for dy in range(-r, r):
                m = max(abs(dy), abs(dy + 1))
                h = math.isqrt(r2 - m * m) if m * m <= r2 else -1
                if h >= 0:
                    out.append((dy, -h, h))
            return out
    raise ValueError(f"unknown shape/element: {shape}/{element}")


def sliding_sum_chords(
    plane: np.ndarray, chords: list[tuple[int, int, int]]
) -> np.ndarray:
    """out[..., y, x] = Σ_{(dy,lo,hi)} Σ_{dx=lo..hi} plane[..., y+dy, x+dx].

    Out-of-array offsets contribute 0 (shrinking-window boundary).
    Exact (no FFT): per-row prefix sums + vertical shifted adds. The
    prefix sums are edge-padded (zeros on the left, the row total on the
    right) so that each chord is two plain slices, not two clipped
    gathers. Leading axes are independent planes: stacking the planes a
    kernel needs into one call walks the chord list once.
    """
    plane = np.asarray(plane, dtype=np.float64)
    H, W = plane.shape[-2:]
    out = np.zeros(plane.shape, dtype=np.float64)
    if not chords:
        return out
    # cs[..., left + j] = Σ plane[..., :clip(j, 0, W)] for every j a
    # chord reads: x + lo and x + hi + 1 over x ∈ [0, W), lo <= hi
    left = max(0, -min(lo for _, lo, _ in chords))
    right = max(0, max(hi for _, _, hi in chords))
    cs = np.zeros(plane.shape[:-1] + (left + W + 1 + right,), dtype=np.float64)
    np.cumsum(plane, axis=-1, out=cs[..., left + 1 : left + 1 + W])
    cs[..., left + 1 + W :] = cs[..., left + W : left + W + 1]
    for dy, lo, hi in chords:
        y0, y1 = max(0, -dy), min(H, H - dy)  # output rows with valid source
        if y0 >= y1:
            continue
        src = cs[..., y0 + dy : y1 + dy, :]
        out[..., y0:y1, :] += (
            src[..., left + hi + 1 : left + hi + 1 + W] - src[..., left + lo : left + lo + W]
        )
    return out


def _valid_and_values(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    valid = np.isfinite(arr)
    vals = np.where(valid, arr, 0.0)
    return vals, valid.astype(np.float64)


# ---------------------------------------------------------------------------
# W1/W2: focal sum / count / mean (square + circular)
# ---------------------------------------------------------------------------

def focal_sum(arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    vals, _ = _valid_and_values(arr)
    return sliding_sum_chords(vals, chords_for(shape, r))


def focal_count(arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    _, valid = _valid_and_values(arr)
    return sliding_sum_chords(valid, chords_for(shape, r))


def focal_mean(arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    vals, valid = _valid_and_values(arr)
    s, c = sliding_sum_chords(np.stack([vals, valid]), chords_for(shape, r))
    with np.errstate(invalid="ignore", divide="ignore"):
        out = s / c
    out[c == 0] = np.nan
    return out


def focal_std(arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    """Population focal standard deviation over the valid window
    cells: sqrt(max(0, Σx²/n − (Σx/n)²)) — pinned expression order
    (mirrored by the sq_focal_multi 'std' oracle); NaN when the window
    has no valid cell. One chord pass over the stacked x, x² and valid
    planes — the same single-exchange cost class as mean."""
    a = np.asarray(arr, dtype=np.float64)
    vals, valid = _valid_and_values(a)
    sq, _ = _valid_and_values(a * a)  # a finite x whose x² overflows adds 0
    s, s2, c = sliding_sum_chords(np.stack([vals, sq, valid]), chords_for(shape, r))
    with np.errstate(invalid="ignore", divide="ignore"):
        m = s / c
        var = s2 / c - m * m
    out = np.sqrt(np.maximum(var, 0.0))
    out[c == 0] = np.nan
    return out


def focal_gi_star(
    arr: np.ndarray,
    r: int,
    shape: Shape = "square",
    *,
    xbar: float,
    sd: float,
    n: int,
) -> np.ndarray:
    """Local Getis-Ord Gi* hotspot z-score with binary weights over the
    footprint (self-inclusive, so Gi-star rather than Gi):

        z_i = (Σ_{j∈win} x_j − x̄·W_i)
              / (S · sqrt((n·W_i − W_i²) / (n − 1)))

    where W_i counts VALID window cells (boundary/nodata windows simply
    shrink), and (n, x̄, S) are the GLOBAL valid-cell count, mean, and
    population std — computed once upstream and passed in, so the
    raster pass itself is one chord pass (window sum and count) riding
    the usual one-exchange focal plan. Nodata centers emit NaN."""
    vals, valid = _valid_and_values(arr)
    ws, wi = sliding_sum_chords(np.stack([vals, valid]), chords_for(shape, r))
    with np.errstate(invalid="ignore", divide="ignore"):
        z = (ws - xbar * wi) / (sd * np.sqrt((n * wi - wi * wi) / (n - 1.0)))
    z[wi == 0] = np.nan
    return np.where(np.isfinite(arr), z, np.nan)


# ---------------------------------------------------------------------------
# W3: distance-weighted mean (FFT correlation with a weight mask)
# ---------------------------------------------------------------------------

def weight_mask(r: int, kind: str = "gaussian", sigma: float | None = None) -> np.ndarray:
    """(2r+1)² weight mask over the circular support d ≤ r (closed).

    kind = "gaussian": w = exp(-d²/(2σ²)), σ default r/2;
    kind = "invdist":  w = 1/(1+d).  Outside the disk: 0.
    """
    dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
    d = np.sqrt((dy * dy + dx * dx).astype(np.float64))
    if kind == "gaussian":
        s = float(sigma) if sigma is not None else r / 2.0
        w = np.exp(-(d * d) / (2.0 * s * s))
    elif kind == "invdist":
        w = 1.0 / (1.0 + d)
    else:
        raise ValueError(f"unknown weight kind: {kind}")
    w[d > r] = 0.0
    return w


def _correlate_full(plane: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """out[y,x] = Σ mask[a,b] · plane[y + a - r, x + b - r] (zero outside),
    via rfft2 on the padded size. mask is (2r+1)²."""
    H, W = plane.shape
    mh, mw = mask.shape
    fh, fw = H + mh - 1, W + mw - 1
    Fp = np.fft.rfft2(plane, s=(fh, fw))
    # correlation = convolution with the flipped mask
    Fm = np.fft.rfft2(mask[::-1, ::-1], s=(fh, fw))
    full = np.fft.irfft2(Fp * Fm, s=(fh, fw))
    ry, rx = mh // 2, mw // 2
    return full[ry : ry + H, rx : rx + W]


def focal_weighted_mean(
    arr: np.ndarray, r: int, kind: str = "gaussian", sigma: float | None = None
) -> np.ndarray:
    """Σ w(d)·v / Σ w(d) over valid cells with center distance ≤ r."""
    vals, valid = _valid_and_values(arr)
    w = weight_mask(r, kind, sigma)
    num = _correlate_full(vals, w)
    den = _correlate_full(valid, w)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den <= 1e-12] = np.nan
    return out


def annulus_chords(r: int, r_in: float) -> list[tuple[int, int, int]]:
    """Ring footprint r_in < d <= r as per-row chord segments (a ring
    row is either one full chord or two symmetric segments around the
    excluded core) — lets the annulus ride the EXACT prefix-sum path
    instead of FFT correlation."""
    out: list[tuple[int, int, int]] = []
    r2, rin2 = r * r, r_in * r_in
    for dy in range(-r, r + 1):
        rem = r2 - dy * dy
        if rem < 0:
            continue
        hi = math.isqrt(rem)
        if dy * dy > rin2:
            out.append((dy, -hi, hi))  # whole row outside the core
        else:
            # smallest |dx| with dy² + dx² > r_in²
            lo = math.isqrt(max(0, math.floor(rin2 - dy * dy))) + 1
            if lo <= hi:
                out.append((dy, -hi, -lo))
                out.append((dy, lo, hi))
    return out


def focal_annulus_mean(arr: np.ndarray, r: int, r_in: float) -> np.ndarray:
    """Ring/doughnut mean (round 3 — the moving-window ecology kernel
    for excluding the focal neighborhood's core): mean of valid cells
    with center distance r_in < d <= r. EXACT chord prefix sums (round
    5 — was FFT correlation: binary ring masks split into row chords,
    so the sums are order-free integer-exact and the SQL oracle's
    contribution join lands bit-identically); all-invalid ring -> NaN."""
    vals, valid = _valid_and_values(arr)
    num, den = sliding_sum_chords(np.stack([vals, valid]), annulus_chords(r, r_in))
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den == 0] = np.nan
    return out


# ---------------------------------------------------------------------------
# W4: focal min / max — van Herk/Gil-Werman 1-D running extrema, separable
# for the square window; circle falls back to chord-wise extrema.
# ---------------------------------------------------------------------------

def _running_extreme_1d(a: np.ndarray, k: int, op) -> np.ndarray:
    """Per row: extreme over the centered window of width k = 2r+1.
    van Herk/Gil-Werman: O(1)/cell regardless of k. Caller pre-replaces
    NaN with ±inf fill; boundary cells see the fill (shrinking window)."""
    H, W = a.shape
    r = (k - 1) // 2
    fill = -np.inf if op is np.maximum else np.inf
    padded = W + 2 * r
    n = padded + (-padded) % k  # round up to a multiple of k
    buf = np.full((H, n), fill, dtype=np.float64)
    buf[:, r : r + W] = a
    blocks = buf.reshape(H, n // k, k)
    fwd = op.accumulate(blocks, axis=2).reshape(H, n)
    bwd = op.accumulate(blocks[:, :, ::-1], axis=2)[:, :, ::-1].reshape(H, n)
    # window for output x (0-based in original coords) is buf[x : x+k]
    return op(bwd[:, 0:W], fwd[:, k - 1 : k - 1 + W])


def focal_extremum(arr: np.ndarray, r: int, shape: Shape = "square", mode: str = "max") -> np.ndarray:
    op = np.maximum if mode == "max" else np.minimum
    fill = -np.inf if mode == "max" else np.inf
    a = np.where(np.isfinite(arr), arr, fill)
    if shape == "square":
        tmp = _running_extreme_1d(a, 2 * r + 1, op)
        out = _running_extreme_1d(np.ascontiguousarray(tmp.T), 2 * r + 1, op).T
    else:
        H, W = a.shape
        out = np.full((H, W), fill, dtype=np.float64)
        for dy, lo, hi in chords_for(shape, r):
            # chord extreme via shifted scans (chord width ≤ 2r+1; O(r²·H·W)
            # worst case but r is small; square path above is O(1)/cell)
            acc = np.full((H, W), fill, dtype=np.float64)
            for dx in range(lo, hi + 1):
                x0, x1 = max(0, -dx), min(W, W - dx)
                if x0 < x1:
                    acc[:, x0:x1] = op(acc[:, x0:x1], a[:, x0 + dx : x1 + dx])
            y0s, y1s = max(0, -dy), min(H, H - dy)
            if y0s < y1s:
                out[y0s:y1s] = op(out[y0s:y1s], acc[y0s + dy : y1s + dy])
    out[~np.isfinite(out)] = np.nan
    return out


# ---------------------------------------------------------------------------
# W5–W8: class statistics (density, richness, Shannon, majority)
# ---------------------------------------------------------------------------

def _class_counts(
    class_arr: np.ndarray, r: int, shape: Shape
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-class focal counts. Returns (classes, counts[c], total_valid).
    Every class indicator and the valid plane go through ONE chord pass."""
    valid = np.isfinite(class_arr)
    classes = np.unique(class_arr[valid]) if valid.any() else np.empty(0)
    planes = np.stack([(class_arr == c) & valid for c in classes] + [valid])
    sums = sliding_sum_chords(planes, chords_for(shape, r))
    return classes, sums[:-1], sums[-1]


def focal_proportion(class_arr: np.ndarray, r: int, klass: float, shape: Shape = "square") -> np.ndarray:
    """W5: fraction of valid cells in W equal to `klass`."""
    valid = np.isfinite(class_arr)
    num, den = sliding_sum_chords(
        np.stack([(class_arr == klass) & valid, valid]), chords_for(shape, r)
    )
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den == 0] = np.nan
    return out


def focal_richness(class_arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    """W6: number of distinct classes present in W (0 where no valid cells)."""
    _, counts, total = _class_counts(class_arr, r, shape)
    # counts are exact integers from chord sums
    rich = (counts > 0.5).sum(axis=0).astype(np.float64) if len(counts) else np.zeros_like(total)
    rich[total == 0] = np.nan
    return rich


def focal_shannon(class_arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    """W7: −Σ p_c ln p_c over valid cells in W; 0·ln0 = 0; natural log."""
    _, counts, total = _class_counts(class_arr, r, shape)
    out = np.zeros(class_arr.shape, dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        for c in counts:
            p = np.where(total > 0, c / np.maximum(total, 1.0), 0.0)
            term = np.where(p > 0, p * np.log(p), 0.0)
            out -= term
    out[total == 0] = np.nan
    return out


def focal_majority(class_arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    """W8: modal class in W; tie → smallest class id; NaN where empty."""
    classes, counts, total = _class_counts(class_arr, r, shape)
    if len(classes) == 0:
        return np.full(class_arr.shape, np.nan)
    counts_i = np.rint(counts)
    best = np.argmax(counts_i, axis=0)  # first (= smallest class) wins ties
    out = classes[best].astype(np.float64)
    out[total == 0] = np.nan
    return out


def focal_minority(
    class_arr: np.ndarray, r: int, shape: Shape = "square"
) -> np.ndarray:
    """W34: LEAST-frequent class among classes PRESENT in the window;
    tie → smallest class id (the zonal_categorical minority rule at
    focal granularity); NaN where the window has no valid cells."""
    classes, counts, total = _class_counts(class_arr, r, shape)
    if len(classes) == 0:
        return np.full(class_arr.shape, np.nan)
    counts_i = np.rint(counts)
    masked = np.where(counts_i > 0, counts_i, np.inf)  # absent classes lose
    best = np.argmin(masked, axis=0)  # first (= smallest class) wins ties
    out = classes[best].astype(np.float64)
    out[np.rint(total) == 0] = np.nan
    return out


def focal_percentile(
    class_arr: np.ndarray, r: int, q: float = 0.5, shape: Shape = "square"
) -> np.ndarray:
    """W33: exact discrete focal percentile of an INTEGER-valued band —
    the value at rank ceil(q*n) among the window's valid cells (the
    repo-wide G4/A11 order-statistic convention; q=0.5 = focal median).
    NaN where the window has no valid cells. Same bounded-distinct-
    values contract as majority/richness: per-class chord sums are the
    sufficient statistic, so the kernel is exact with zero sorting and
    the cost is O(distinct values) sliding sums.

    The rank is computed in exact per-myriad integer arithmetic (q
    quantized to 1/10000, rank = ceil(q_pm*n/10000)) — the same A11
    convention zonal_percentile pins — because float ceil(q*n) is
    off-by-one whenever q*n is mathematically integral but rounds up in
    IEEE (e.g. 0.07*100 = 7.000000000000001 -> rank 8 instead of 7)."""
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    classes, counts, total = _class_counts(class_arr, r, shape)
    if len(classes) == 0:
        return np.full(class_arr.shape, np.nan)
    cum = np.cumsum(np.rint(counts), axis=0)
    q_pm = max(1, int(round(q * 10000)))
    n = np.rint(total).astype(np.int64)
    rank = np.maximum(-(-q_pm * n // 10000), 1).astype(np.float64)
    pick = np.argmax(cum >= rank[None, ...], axis=0)
    out = classes[pick].astype(np.float64)
    out[np.rint(total) == 0] = np.nan
    return out


# ---------------------------------------------------------------------------
# W9–W10: edge-based statistics
# ---------------------------------------------------------------------------

def edge_planes(class_arr: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(h_valid, h_diff, v_valid, v_diff) planes, anchored at the
    left/top endpoint. An edge is valid iff BOTH endpoints are valid
    (nodata edges excluded entirely, §5.3.4). h planes have shape
    (H, W) with the last column zero; v planes the last row zero."""
    H, W = class_arr.shape
    finite = np.isfinite(class_arr)
    h_valid = np.zeros((H, W), np.float64)
    h_diff = np.zeros((H, W), np.float64)
    v_valid = np.zeros((H, W), np.float64)
    v_diff = np.zeros((H, W), np.float64)
    hv = finite[:, :-1] & finite[:, 1:]
    h_valid[:, :-1] = hv
    h_diff[:, :-1] = hv & (class_arr[:, :-1] != class_arr[:, 1:])
    vv = finite[:-1, :] & finite[1:, :]
    v_valid[:-1, :] = vv
    v_diff[:-1, :] = vv & (class_arr[:-1, :] != class_arr[1:, :])
    return h_valid, h_diff, v_valid, v_diff


def focal_edge_density(class_arr: np.ndarray, r: int, shape: Shape = "square") -> np.ndarray:
    """W9: among edges fully inside W, the fraction whose endpoints
    differ in class. NaN where W contains no edges."""
    h_valid, h_diff, v_valid, v_diff = edge_planes(class_arr)
    hd, hv = sliding_sum_chords(np.stack([h_diff, h_valid]), chords_for(shape, r, "hedge"))
    vd, vv = sliding_sum_chords(np.stack([v_diff, v_valid]), chords_for(shape, r, "vedge"))
    diff = hd + vd
    tot = hv + vv
    with np.errstate(invalid="ignore", divide="ignore"):
        out = diff / tot
    out[tot == 0] = np.nan
    return out


def focal_interspersion(
    class_arr: np.ndarray,
    r: int,
    shape: Shape = "square",
    classes: np.ndarray | None = None,
) -> np.ndarray:
    """W10 (IJI-style): evenness of the class-PAIR mix among *boundary*
    edges (different-class edges) in W:
        IJI = −Σ_{c<c'} q ln q / ln(n_pairs present in raster)
    where q = (count of (c,c') edges in W) / (all different-class edges
    in W). NaN where fewer than 2 boundary-edge types are possible or no
    boundary edges in W.

    ``classes``: the GLOBAL class domain. In a distributed focal plan
    each worker sees only tile+halo — deriving the class set per block
    would skew the ln(n_pairs) denominator on blocks missing a class,
    so callers that tile the raster MUST pass the raster-wide classes
    (the other class kernels are invariant to absent-class rows and
    don't need it)."""
    H, W = class_arr.shape
    finite = np.isfinite(class_arr)
    if classes is None:
        classes = np.unique(class_arr[finite])
    else:
        classes = np.asarray(sorted(classes), dtype=np.float64)
    ncl = len(classes)
    if ncl < 2:
        return np.full((H, W), np.nan)
    hc = chords_for(shape, r, "hedge")
    vc = chords_for(shape, r, "vedge")
    pair_counts: list[np.ndarray] = []
    for a in range(ncl):
        for b in range(a + 1, ncl):
            ca, cb = classes[a], classes[b]
            hp = np.zeros((H, W), np.float64)
            vp = np.zeros((H, W), np.float64)
            l, rgt = class_arr[:, :-1], class_arr[:, 1:]
            hp[:, :-1] = ((l == ca) & (rgt == cb)) | ((l == cb) & (rgt == ca))
            t, btm = class_arr[:-1, :], class_arr[1:, :]
            vp[:-1, :] = ((t == ca) & (btm == cb)) | ((t == cb) & (btm == ca))
            pair_counts.append(sliding_sum_chords(hp, hc) + sliding_sum_chords(vp, vc))
    pc = np.stack(pair_counts)
    total = pc.sum(axis=0)
    n_pairs = pc.shape[0]
    out = np.zeros((H, W), np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        for kplane in pc:
            q = np.where(total > 0, kplane / np.maximum(total, 1.0), 0.0)
            out -= np.where(q > 0, q * np.log(q), 0.0)
    out /= math.log(n_pairs) if n_pairs > 1 else 1.0
    out[total == 0] = np.nan
    return out


# ---------------------------------------------------------------------------
# generic 3x3 convolution filters (round 4): the classic image-algebra
# derivative kernels every raster calculator exposes. Pinned rules
# (mirrored by the sq_terrain oracle): valid iff ALL NINE 3x3 cells are
# finite (the terrain family's rule — derivative taps with missing data
# are meaningless); fold orders pinned exactly as written.
# ---------------------------------------------------------------------------


def _nine(arr: np.ndarray):
    a = np.asarray(arr, dtype=np.float64)
    H, W = a.shape
    if H < 3 or W < 3:
        return None
    nw, n, ne = a[:-2, :-2], a[:-2, 1:-1], a[:-2, 2:]
    w, c, e = a[1:-1, :-2], a[1:-1, 1:-1], a[1:-1, 2:]
    sw, s, se = a[2:, :-2], a[2:, 1:-1], a[2:, 2:]
    valid = (
        np.isfinite(c)
        & np.isfinite(n) & np.isfinite(s) & np.isfinite(w) & np.isfinite(e)
        & np.isfinite(nw) & np.isfinite(ne) & np.isfinite(sw) & np.isfinite(se)
    )
    return (nw, n, ne, w, c, e, sw, s, se), valid, (H, W)


def _conv_out(core: np.ndarray, valid: np.ndarray, hw) -> np.ndarray:
    out = np.full(hw, np.nan)
    out[1:-1, 1:-1] = np.where(valid, core, np.nan)
    return out


def focal_sobel_x(arr: np.ndarray, r: int = 1, shape: str = "square") -> np.ndarray:
    """Sobel horizontal derivative: (ne + 2e + se) − (nw + 2w + sw)."""
    got = _nine(arr)
    if got is None:
        return np.full(np.asarray(arr, dtype=np.float64).shape, np.nan)
    (nw, n, ne, w, c, e, sw, s, se), valid, hw = got
    return _conv_out((ne + 2.0 * e + se) - (nw + 2.0 * w + sw), valid, hw)


def focal_sobel_y(arr: np.ndarray, r: int = 1, shape: str = "square") -> np.ndarray:
    """Sobel vertical derivative (y-down): (sw + 2s + se) − (nw + 2n + ne)."""
    got = _nine(arr)
    if got is None:
        return np.full(np.asarray(arr, dtype=np.float64).shape, np.nan)
    (nw, n, ne, w, c, e, sw, s, se), valid, hw = got
    return _conv_out((sw + 2.0 * s + se) - (nw + 2.0 * n + ne), valid, hw)


def focal_laplacian(arr: np.ndarray, r: int = 1, shape: str = "square") -> np.ndarray:
    """4-neighbor Laplacian: (((n + s) + w) + e) − 4z (pinned fold)."""
    got = _nine(arr)
    if got is None:
        return np.full(np.asarray(arr, dtype=np.float64).shape, np.nan)
    (nw, n, ne, w, c, e, sw, s, se), valid, hw = got
    return _conv_out((((n + s) + w) + e) - 4.0 * c, valid, hw)
