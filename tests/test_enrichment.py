"""Spatial sanity set + regex fallback + coalesce-fill (SURVEY.md §5.4;
FIXTURES.md F3 semantics: polygon hit / ocean+token fallback / neither)."""

from __future__ import annotations

import string

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from earthquake_data_pipeline_spark.functions.geo import (
    parse_wkt_polygon,
    points_in_polygon,
)
from earthquake_data_pipeline_spark.functions.scalar import token_pattern
from earthquake_data_pipeline_spark.operators.enrichment import (
    enrich_events,
    regex_token_join,
    spatial_join,
    token_priority,
)

# Rectangles (non-overlapping) + one MULTIPOLYGON + a polygon with a hole.
POLYGONS = [
    ("Japonia", "Asia", "POLYGON ((130 30, 146 30, 146 46, 130 46, 130 30))"),
    ("Chilea", "Americas", "POLYGON ((-76 -56, -66 -56, -66 -17, -76 -17, -76 -56))"),
    ("Twin Isles", "Oceania",
     "MULTIPOLYGON (((160 -50, 175 -50, 175 -30, 160 -30, 160 -50)), ((178 -45, 179 -45, 179 -40, 178 -40, 178 -45)))"),
    ("Donutland", "Europe",
     "POLYGON ((0 40, 20 40, 20 60, 0 60, 0 40), (8 48, 12 48, 12 52, 8 52, 8 48))"),
]
LOOKUP = [(c, r) for c, r, _ in POLYGONS] + [("Alaska", "Americas")]


def test_wkt_parser_shapes():
    polys = parse_wkt_polygon(POLYGONS[2][2])
    assert len(polys) == 2 and len(polys[0]) == 1
    holed = parse_wkt_polygon(POLYGONS[3][2])
    assert len(holed) == 1 and len(holed[0]) == 2  # exterior + hole


def test_ray_casting_with_hole():
    polys = parse_wkt_polygon(POLYGONS[3][2])
    x = np.array([10.0, 5.0, 25.0])   # hole center, solid part, outside
    y = np.array([50.0, 50.0, 50.0])
    assert points_in_polygon(x, y, polys).tolist() == [False, True, False]


def test_spatial_join_sanity_set(spark):
    rows = [
        # (id, place, lon, lat) — polygon hit / multipoly part 2 / ocean+token / neither
        (1, "near Tokyo", 140.0, 35.0),
        (2, "small isle", 178.5, -42.0),
        (3, "off the coast of Japonia", -150.0, 10.0),
        (4, "middle of nowhere", -150.0, -10.0),
        (5, "hole dweller", 10.0, 50.0),
    ]
    df = spark.createDataFrame(rows, ["id", "place", "longitude", "latitude"])
    out = {r.id: (r.country, r.region) for r in spatial_join(df, POLYGONS).collect()}
    assert out[1] == ("Japonia", "Asia")
    assert out[2] == ("Twin Isles", "Oceania")
    assert out[3] == (None, None)
    assert out[4] == (None, None)
    assert out[5] == (None, None)  # inside the hole → not within


def test_regex_token_join_first_match_wins(spark):
    df = spark.createDataFrame(
        [(1, "Chilea quake near Japonia"), (2, "japonia lowercase"), (3, "no match")],
        ["id", "place"],
    )
    out = {
        r.id: r.matched_token
        for r in regex_token_join(
            df, "place", ["Japonia", "Chilea"], ["id"]
        ).collect()
    }
    # list order wins, not text order: Japonia before Chilea
    assert out == {1: "Japonia", 2: "Japonia", 3: None}


def test_enrich_events_composition(spark):
    rows = [
        (1, "near Tokyo", 140.0, 35.0),           # spatial hit
        (2, "off the coast of Chilea", 0.0, -80.0),  # miss → regex fallback
        (3, "Alaska pipeline", -30.0, 80.0),      # miss → name-only dim row
        (4, "nothing here", -150.0, -10.0),       # stays null
    ]
    df = spark.createDataFrame(rows, ["id", "place", "longitude", "latitude"])
    out = {r.id: (r.country, r.region) for r in
           enrich_events(df, POLYGONS, LOOKUP).collect()}
    assert out[1] == ("Japonia", "Asia")
    assert out[2] == ("Chilea", "Americas")
    assert out[3] == ("Alaska", "Americas")
    assert out[4] == (None, None)
    # null-census invariant (SURVEY §5): enrichment only ADDS countries
    assert sum(1 for c, _ in out.values() if c is not None) == 3


def test_enrich_events_fallback_is_case_insensitive(spark):
    """The reference lowercases both place and country before the
    containment test (add_region.py:40-44); enrich_events must match a
    lowercase place name by default, and case_insensitive=False must not
    (ADVICE r07 — the oracle carries (?i) for the same contract)."""
    rows = [(1, "off the coast of chilea", 0.0, -80.0)]
    df = spark.createDataFrame(rows, ["id", "place", "longitude", "latitude"])
    out = enrich_events(df, POLYGONS, LOOKUP).collect()[0]
    assert (out.country, out.region) == ("Chilea", "Americas")
    strict = enrich_events(
        df, POLYGONS, LOOKUP, case_insensitive=False
    ).collect()[0]
    assert (strict.country, strict.region) == (None, None)


def test_enrich_events_duplicate_country_name_takes_first_row(spark):
    """A name listed twice in the lookup counts once, with its FIRST
    region: a fallback-matched event is emitted once, not once per
    lookup row."""
    rows = [(2, "off the coast of Chilea", 0.0, -80.0)]
    df = spark.createDataFrame(rows, ["id", "place", "longitude", "latitude"])
    out = enrich_events(
        df, POLYGONS, LOOKUP + [("Chilea", "Antarctica")]
    ).collect()
    assert [(r.id, r.country, r.region) for r in out] == [
        (2, "Chilea", "Americas")
    ]


# Differential test of token_priority against a per-token RLIKE scan in
# list order on the same JVM. Places mix ASCII of both cases, digits,
# '_', punctuation and non-ASCII letters; tokens include multi-word
# names, regex metacharacters, case-only duplicates, non-ASCII names and
# a token that is a suffix of another ("New Land" / "Land").
_ALPHABET = string.ascii_letters + string.digits + "_ .,-()[]*+?|\\" + "éßİ"
_WORD = st.text(alphabet=_ALPHABET, min_size=1, max_size=6)
_SPECIAL = ["C++", "St. Kitts", "a.b", "(x)", "Curaçao", "İzmir", "straße",
            "LAND", "land"]
_SEPARATORS = st.sampled_from(["", " ", ", ", "-", "_", "é"])


@st.composite
def _tokens_and_places(draw):
    base = draw(
        st.lists(st.one_of(_WORD, st.sampled_from(_SPECIAL)), max_size=8)
    )
    base += ["New Land", "Land"]
    recased = draw(st.lists(st.sampled_from(base).map(str.swapcase), max_size=2))
    tokens = draw(st.permutations(base + recased))
    piece = st.one_of(
        st.sampled_from(tokens),
        st.sampled_from(tokens).map(str.upper),
        st.sampled_from(tokens).map(str.lower),
        _WORD,
    )
    places = []
    for pieces in draw(st.lists(st.lists(piece, max_size=4), max_size=6)):
        text = ""
        for p in pieces:
            text += draw(_SEPARATORS) + p
        places.append(text)
    return tokens, places


@settings(max_examples=40, deadline=None)
@given(case=_tokens_and_places(), case_insensitive=st.booleans())
# the suffix token wins inside the longer name it overlaps
@example(case=(["Land", "New Land"], ["New Land", "NEW LAND"]),
         case_insensitive=True)
@example(case=(["LAND", "Land", "İzmir"], ["land", "İZMIR", "İzmir"]),
         case_insensitive=False)
def test_token_priority_matches_per_token_rlike(spark, case, case_insensitive):
    tokens, places = case
    # a matching row, then a no-match row and a NULL in ONE partition:
    # the shape where element_at(array, NULL) would return a stale index
    rows = [(p,) for p in places] + [("Land",), ("",), (None,)]
    df = spark.createDataFrame(rows, "place string").coalesce(1)
    flag = "(?i)" if case_insensitive else ""
    oracle = F.coalesce(
        *[
            F.when(F.col("place").rlike(flag + token_pattern(t)), F.lit(i))
            for i, t in enumerate(tokens)
        ]
    )
    got = df.select(
        "place",
        token_priority("place", tokens, case_insensitive).alias("got"),
        oracle.alias("want"),
    ).collect()
    assert [(r.place, r.got) for r in got] == [(r.place, r.want) for r in got]
    assert got[-3].got is not None
    assert [r.got for r in got[-2:]] == [None, None]


def test_polygon_dim_parse_amortized(spark):
    """VERDICT r07 item 6: a caller amortizes the WKT parse by holding
    one PolygonDim; it must behave identically to raw tuples, and
    parsing it again must return it unchanged."""
    from earthquake_data_pipeline_spark.operators.enrichment import (
        PolygonDim,
        parse_polygon_dim,
    )

    explicit = PolygonDim(POLYGONS)
    assert parse_polygon_dim(explicit) is explicit

    rows = [(1, 140.0, 35.0), (2, -150.0, -10.0)]
    df = spark.createDataFrame(rows, ["id", "longitude", "latitude"])
    via_raw = {r.id: r.country for r in spatial_join(df, POLYGONS).collect()}
    via_dim = {r.id: r.country for r in spatial_join(df, explicit).collect()}
    assert via_raw == via_dim == {1: "Japonia", 2: None}


def _countries(df, dim, monkeypatch, grid: bool) -> dict:
    """spatial_join forced onto one strategy: the grid engages past
    _MAX_LINEAR_POLYGONS, so the cap picks it."""
    from earthquake_data_pipeline_spark.operators import enrichment as E

    monkeypatch.setattr(E, "_MAX_LINEAR_POLYGONS", 0 if grid else 10**9)
    return {
        r.id: (r.country, r.region) for r in spatial_join(df, dim).collect()
    }


def test_spatial_join_grid_index_matches_linear(spark, monkeypatch):
    """The bbox-grid strategy (the >_MAX_LINEAR_POLYGONS successor,
    VERDICT r06 item 7) must reproduce the linear scan exactly on the
    sanity dim — including hole and MULTIPOLYGON semantics."""
    rows = [
        (1, 140.0, 35.0), (2, 178.5, -42.0), (3, -150.0, 10.0),
        (4, -150.0, -10.0), (5, 10.0, 50.0), (6, 5.0, 50.0),
        (7, -70.0, -30.0), (8, 165.0, -40.0),
    ]
    df = spark.createDataFrame(rows, ["id", "longitude", "latitude"])
    linear = _countries(df, POLYGONS, monkeypatch, grid=False)
    grid = _countries(df, POLYGONS, monkeypatch, grid=True)
    assert grid == linear
    assert grid[6] == ("Donutland", "Europe")  # solid part of holed poly


def test_spatial_join_grid_preserves_first_polygon_priority(spark, monkeypatch):
    """Overlapping polygons: the FIRST polygon in dim order wins on both
    strategies (the grid's per-cell candidate lists are index-ordered)."""
    overlapping = [
        ("First", "A", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        ("Second", "B", "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))"),
    ]
    df = spark.createDataFrame(
        [(1, 7.0, 7.0), (2, 12.0, 12.0), (3, 2.0, 2.0)],
        ["id", "longitude", "latitude"],
    )
    first, second = ("First", "A"), ("Second", "B")
    for grid in (False, True):
        out = _countries(df, overlapping, monkeypatch, grid)
        assert out == {1: first, 2: second, 3: first}, grid


def test_spatial_join_auto_grid_past_linear_cap(spark):
    """A dim beyond _MAX_LINEAR_POLYGONS no longer raises: the grid path
    engages automatically and classifies correctly. The parsed dim and
    its grid ride in the mapInPandas closure, and at this size they are
    past PySpark's 1 MiB UDF broadcast threshold, so the closure itself
    is shipped as a broadcast variable."""
    from pyspark.serializers import CloudPickleSerializer

    from earthquake_data_pipeline_spark.operators.enrichment import (
        _MAX_LINEAR_POLYGONS,
        parse_polygon_dim,
    )

    # (2*cap) 1x1-degree tiles laid out on a row-major lattice
    n = _MAX_LINEAR_POLYGONS * 2
    per_row = 100
    tiles = []
    for k in range(n):
        x0, y0 = (k % per_row), (k // per_row)
        tiles.append(
            (
                f"tile_{k}",
                None,
                f"POLYGON (({x0} {y0}, {x0 + 1} {y0}, {x0 + 1} {y0 + 1}, "
                f"{x0} {y0 + 1}, {x0} {y0}))",
            )
        )
    dim = parse_polygon_dim(tiles)
    shipped = CloudPickleSerializer().dumps((dim.parsed, dim.grid()))
    assert len(shipped) > 1 << 20
    pts = [
        (0, 0.5, 0.5),        # tile_0
        (1, 55.5, 3.5),       # tile_355
        (2, 91.5, 81.5),      # tile_8191 (last tile: 81*100 + 91)
        (3, 150.0, 150.0),    # outside every tile
    ]
    df = spark.createDataFrame(pts, ["id", "longitude", "latitude"])
    out = {r.id: r.country for r in spatial_join(df, dim).collect()}
    assert out[0] == "tile_0"
    assert out[1] == f"tile_{3 * per_row + 55}"
    assert out[2] == f"tile_{81 * per_row + 91}"
    assert out[3] is None


def test_spatial_join_grid_handles_extent_max_edge_and_nulls(spark, monkeypatch):
    """Points exactly ON the dim extent's max edge must route through
    the SAME polygon tests as the linear scan (the grid clamps them
    into the last cell instead of silently dropping them — exact
    containment there is undefined ray-cast boundary semantics, but the
    strategies must agree); near-edge interior points classify; null
    coordinates stay null with no NaN-cast fallout."""
    edge_dim = [
        ("Low", "A", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
        ("High", "B", "POLYGON ((10 10, 20 10, 20 20, 10 20, 10 10))"),
    ]
    rows = [
        (1, 20.0, 20.0),      # exact extent max corner (boundary: undefined
        (2, 0.0, 20.0),       # but must MATCH linear, not be dropped)
        (3, 20.0, 0.0),
        (4, 19.999, 19.999),  # interior point in the extent-max cell
        (5, None, 5.0),       # null lon
        (6, 5.0, None),       # null lat
    ]
    df = spark.createDataFrame(
        rows, "id int, longitude double, latitude double"
    )
    linear = _countries(df, edge_dim, monkeypatch, grid=False)
    grid = _countries(df, edge_dim, monkeypatch, grid=True)
    assert grid == linear
    assert grid[4][0] == "High" and grid[5][0] is None and grid[6][0] is None


def test_lazy_spatial_join_runs_after_other_dims_are_used(spark):
    """ADVICE r10 regression: a lazy DataFrame built from one dim must
    still execute after joins against other dims have run — the dim
    travels in the frame's own closure, so no later call can release
    it."""
    box = [("Box", "R", "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")]
    pts = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 5.0, 5.0)], ["id", "latitude", "longitude"]
    )
    lazy = spatial_join(pts, box)
    lazy.count()
    for i in range(3):
        other = [(f"C{i}", "R", "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")]
        assert spatial_join(pts, other).count() == 2
    got = {r.id: r.country for r in lazy.collect()}  # late action
    assert got == {1: "Box", 2: None}
