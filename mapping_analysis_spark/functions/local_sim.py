"""Python-side similarity kernels for use inside grouped-map pandas blocks
(greedy merge / Hungarian / SimSort fixpoints). Semantics are identical to
the native-Column versions in ``functions.similarity`` (set cosine over
padded character trigrams of the simplified string, 6dp round — mirrors
Utils.java:477-490 / 869-873) so a value computed JVM-side and one computed
locally agree bit-for-bit."""

from __future__ import annotations

import math
import re

_PUNCT_RE = re.compile(r"[!-/:-@\[-`{-~]")  # Java \p{Punct} = ASCII punct
_WS_RE = re.compile(r"\s+")
_INSANE = {"no_label_found", "no_value", "--"}


def simplify_local(s: str | None) -> str | None:
    if s is None:
        return None
    out = _PUNCT_RE.sub(" ", s.lower())
    out = _WS_RE.sub(" ", out)
    return out.strip()


def trigram_set_local(s: str) -> frozenset[str]:
    padded = "##" + s.lower() + "##"
    return frozenset(padded[i : i + 3] for i in range(len(padded) - 2))


def _round6_decimal(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def round6(x: float) -> float:
    """HALF_UP at 6dp, value-identical to ``F.round(_, 6)`` and DuckDB's
    ``round``: the fast path is floor(x·1e6 + 0.5); within 1e-6 of the .5
    tie the Decimal(repr(x)) kernel decides. Python's ``round`` is
    half-to-even, so it would flip 6dp midpoints (and a midpoint on a
    ≥ threshold filter flips the pair set). NaN passes through (a null
    coordinate read through pandas arrives as NaN)."""
    if x != x:
        return x
    y = x * 1e6
    if abs(y - math.floor(y) - 0.5) < 1e-6:
        return _round6_decimal(x)
    return math.floor(y + 0.5) / 1e6


def round6_vec(x):
    """``round6`` over a float64 array; NaNs pass through."""
    import numpy as np

    with np.errstate(invalid="ignore"):
        y = x * 1e6
        out = np.floor(y + 0.5) / 1e6
        near = np.abs(y - np.floor(y) - 0.5) < 1e-6
    near &= ~np.isnan(x)
    for t in np.flatnonzero(near):
        out[t] = _round6_decimal(float(x[t]))
    return np.where(np.isnan(x), np.nan, out)


def cosine_trigram_local(a: str | None, b: str | None) -> float | None:
    """Set cosine |A∩B|/sqrt(|A||B|) over padded trigrams of simplified
    strings; None when either side is insane (Utils.java:483-485)."""
    if a is None or b is None or a in _INSANE or b in _INSANE:
        return None
    sa = trigram_set_local(simplify_local(a))
    sb = trigram_set_local(simplify_local(b))
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    return round6(len(sa & sb) / math.sqrt(len(sa) * len(sb)))


def cosine_vec_local(a, b) -> float | None:
    """Cosine over two numeric vectors (fingerprints); None if either
    missing/zero."""
    if a is None or b is None:
        return None
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na == 0 or nb == 0:
        return None
    return round6(dot / (na * nb))


def haversine_m_local(
    lat1: float, lon1: float, lat2: float, lon2: float
) -> float:
    """Haversine meters, R = 6371 km — same formula shape as
    functions.similarity.haversine_m (GeoDistance.java:20-46)."""
    dlat = math.radians(lat2 - lat1)
    dlon = math.radians(lon2 - lon1)
    a = math.sin(dlat / 2) * math.sin(dlat / 2) + math.cos(
        math.radians(lat1)
    ) * math.cos(math.radians(lat2)) * math.sin(dlon / 2) * math.sin(dlon / 2)
    c = 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    return 6371.0 * c * 1000.0


def geo_sim_local(
    lat1: float | None,
    lon1: float | None,
    lat2: float | None,
    lon2: float | None,
) -> float | None:
    """1 − d/150 km within range, 0 beyond, None for invalid coords, 6dp
    HALF_UP (Utils.getGeoSimilarity, Utils.java:443-459)."""
    vals = (lat1, lon1, lat2, lon2)
    if any(v is None for v in vals):
        return None
    if abs(lat1) > 90 or abs(lat2) > 90 or abs(lon1) > 180 or abs(lon2) > 180:
        return None
    d = haversine_m_local(lat1, lon1, lat2, lon2)
    if d >= 150000.0:
        return 0.0
    return round6(1.0 - d / 150000.0)


def type_sim_local(a: set | frozenset | None, b: set | frozenset | None) -> float | None:
    """Utils.getTypeSim over canonical type sets; None when either side is
    untyped (functions.types.type_sim semantics)."""
    from .types import NO_TYPE, SHADING_TYPE_SIM, TYPE_SHADINGS

    if not a or not b or NO_TYPE in a or NO_TYPE in b:
        return None
    if a & b:
        return 1.0
    for s in a:
        if TYPE_SHADINGS.get(s) in b:
            return SHADING_TYPE_SIM
    for t in b:
        if TYPE_SHADINGS.get(t) in a:
            return SHADING_TYPE_SIM
    return 0.0


def mean_agg_local(*sims: float | None) -> float | None:
    """Mean over non-null channels, 6dp HALF_UP
    (MeanAggregationFunction.java:26-49)."""
    present = [s for s in sims if s is not None]
    if not present:
        return None
    return round6(sum(present) / len(present))
