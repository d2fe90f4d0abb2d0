"""Seeded input generators. Everything a workload feeds to sparkh3 comes
from here, as a function of the seed alone: the same seed gives
byte-identical inputs.

Coordinates are integer microdegrees, the encoding the interleaved
``geo`` span carries as text; the float view every consumer uses is
``e6 / 1e6``, so a NumPy/DuckDB recount sees exactly the doubles Spark
parses out of the spans.
"""

from __future__ import annotations

import numpy as np

# twelve dense hubs (lat, lng degrees); 70% of generated points fall in a
# 1 x 1 degree box around one of them, the rest spread uniformly
HUBS = np.array(
    [
        (40.75, -73.99), (51.50, -0.12), (35.68, 139.76), (19.43, -99.13),
        (-23.55, -46.63), (28.61, 77.21), (31.23, 121.47), (6.52, 3.38),
        (55.76, 37.62), (-33.87, 151.21), (48.86, 2.35), (37.77, -122.42),
    ]
)
HOT_SHARE = 0.7
HUB_HALF_DEG = 0.5

_WORDS = np.array(
    "tile cell ring hub map road river park city port bay hill lake "
    "north south east west grid zone area dock mall farm mine tower "
    "bridge field coast plain ridge delta island canal market depot".split()
)


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a stream never
    shifts another stream's draws."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


# the uniform background of the tiled datasets: a continental box. A
# globe-wide background touches ~810 of the 1024 storage buckets, so every
# table write makes ~810 files whatever the input size (about 20 s per
# write on a 4-core host); this box plus the hubs makes ~40.
REGION = (36.0, 60.0, -10.0, 40.0)
GLOBE = (-70.0, 70.0, -180.0, 180.0)


def points_e6(
    seed: int, n: int, stream: str, background=GLOBE, hot_share: float = HOT_SHARE
) -> tuple[np.ndarray, np.ndarray]:
    """(lat_e6, lng_e6) int64 arrays: ``hot_share`` in hub boxes, the rest
    uniform over the ``background`` (lat0, lat1, lng0, lng1) box."""
    g = rng(seed, stream)
    # exact shares (not Bernoulli draws): every seed puts the same number
    # of points in the background and in each hub, only where differs
    order = g.permutation(n)
    hot = order < round(hot_share * n)
    hub = order % len(HUBS)
    u = g.random((n, 2))
    lat = np.where(
        hot,
        HUBS[hub, 0] + (u[:, 0] - 0.5) * 2 * HUB_HALF_DEG,
        background[0] + u[:, 0] * (background[1] - background[0]),
    )
    lng = np.where(
        hot,
        HUBS[hub, 1] + (u[:, 1] - 0.5) * 2 * HUB_HALF_DEG,
        background[2] + u[:, 1] * (background[3] - background[2]),
    )
    return np.round(lat * 1e6).astype(np.int64), np.round(lng * 1e6).astype(np.int64)


def to_deg(e6: np.ndarray) -> np.ndarray:
    return e6 / 1e6


def interleaved_docs(seed: int, n: int):
    """pyarrow Table (doc_id: string, spans: list<struct<kind, text,
    media_ref, offset>>): a text span, a geo span ("lat_e6,lng_e6") and,
    on every third doc, a media span. Returns (table, lat_e6, lng_e6)."""
    import pyarrow as pa

    lat, lng = points_e6(seed, n, "docs", REGION)
    g = rng(seed, "doc_text")
    ids = np.char.add(f"s{seed}-", np.arange(n).astype(str))
    words = _WORDS[g.integers(0, len(_WORDS), (n, 3))]
    text = np.char.add(np.char.add(words[:, 0], " "), np.char.add(words[:, 1], " "))
    text = np.char.add(text, words[:, 2])
    geo = np.char.add(np.char.add(lat.astype(str), ","), lng.astype(str))
    has_media = np.arange(n) % 3 == 0
    n_spans = 2 + has_media.astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    total = int(offsets[-1])
    # span slots: text at offsets[i], geo at +1, media (if any) at +2
    kind = np.empty(total, dtype=object)
    stext = np.empty(total, dtype=object)
    sref = np.empty(total, dtype=object)
    soff = np.zeros(total, dtype=np.int32)
    t_at = offsets[:-1]
    kind[t_at], stext[t_at], sref[t_at] = "text", text, ""
    kind[t_at + 1], stext[t_at + 1], sref[t_at + 1] = "geo", geo, ""
    soff[t_at + 1] = np.char.str_len(text)
    m_at = t_at[has_media] + 2
    kind[m_at], stext[m_at] = "media", ""
    sref[m_at] = np.char.add("ref://bench/", ids[has_media])
    soff[m_at] = soff[m_at - 1] + 24
    spans = pa.ListArray.from_arrays(
        pa.array(offsets),
        pa.StructArray.from_arrays(
            [pa.array(kind, pa.string()), pa.array(stext, pa.string()),
             pa.array(sref, pa.string()), pa.array(soff)],
            names=["kind", "text", "media_ref", "offset"],
        ),
    )
    table = pa.table({"doc_id": pa.array(ids, pa.string()), "spans": spans})
    return table, lat, lng


def rect_polygons(seed: int) -> list[tuple[str, list[tuple[float, float]]]]:
    """12 hub rectangles (0.7 x 0.7 degrees, centre jittered by up to 0.1
    degree) plus 3 concave 10-point stars (radii 1.2/0.5 degrees, random
    centre and rotation), as (poly_id, closed ring of (lat, lng)). Shapes
    and sizes are the same for every seed. Rectangle edges sit half a
    microdegree off the grid the points lie on, so no point is on an edge
    and box predicates agree with the ray cast; star vertices are
    arbitrary doubles."""
    g = rng(seed, "polygons")
    out = []
    for i, (la, ln) in enumerate(HUBS):
        cy = round((la + 0.2 * (g.random() - 0.5)) * 1e6) / 1e6 + 5e-7
        cx = round((ln + 0.2 * (g.random() - 0.5)) * 1e6) / 1e6 + 5e-7
        y0, y1, x0, x1 = cy - 0.35, cy + 0.35, cx - 0.35, cx + 0.35
        out.append((f"hub{i:02d}", [(y0, x0), (y0, x1), (y1, x1), (y1, x0), (y0, x0)]))
    k = 10
    rad = np.where(np.arange(k) % 2 == 0, 1.2, 0.5)
    for j in range(3):
        la = -50.0 + 100.0 * g.random()
        ln = -170.0 + 340.0 * g.random()
        ang = np.arange(k) * 2 * np.pi / k + 2 * np.pi * g.random()
        ring = [
            (float(la + r * np.sin(a)), float(ln + r * np.cos(a)))
            for a, r in zip(ang, rad)
        ]
        out.append((f"star{j}", ring + [ring[0]]))
    return out


def query_points(
    seed: int, n: int, stream: str, hot_share: float = HOT_SHARE
) -> tuple[np.ndarray, np.ndarray]:
    """n query locations (degrees), ``hot_share`` of them in the hubs."""
    lat, lng = points_e6(seed, n, stream, GLOBE, hot_share)
    return to_deg(lat), to_deg(lng)


def dedup_docs(seed: int, n: int, families: int, copies: int, words: int):
    """``n`` documents of ``words`` space-separated synthetic words (a
    20k-word vocabulary, so unrelated documents share no 3-gram), holding
    ``families`` planted near-duplicate families: a base document and
    ``copies`` copies, each with one word replaced at its own position.
    Returns (doc_id int64, text, family int64 with -1 for unrelated
    documents); ids are shuffled so families are not contiguous."""
    g = rng(seed, "dedup_docs")
    vocab = np.char.add("w", np.arange(20_000).astype(str))
    n_unique = n - families * copies
    toks = g.integers(0, len(vocab), (n_unique, words))
    family = np.full(n, -1, dtype=np.int64)
    family[:families] = np.arange(families)
    base_of = np.repeat(np.arange(families), copies)
    dup = toks[base_of].copy()
    # distinct positions within a family, at least 3 words apart, so every
    # copy differs from its base in exactly 3 shingles and from a sibling in 6
    slots = np.arange(2, words - 2, 3)
    for f in range(families):
        pos = g.choice(slots, copies, replace=False)
        rows = np.arange(f * copies, (f + 1) * copies)
        dup[rows, pos] = (dup[rows, pos] + 1 + g.integers(0, len(vocab) - 1, copies)) % len(vocab)
    toks = np.concatenate([toks, dup])
    family[n_unique:] = base_of
    text = np.array([" ".join(row) for row in vocab[toks]], dtype=object)
    ids = g.permutation(n).astype(np.int64) + 1
    return ids, text, family
