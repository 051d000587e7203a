"""Real-world robustness regressions from the reference Catch2 suite
(/root/reference/src/exactextract/test/test_raster_cell_intersection.cpp:440-614).

The WKT resource files are read from the reference tree (read-only) — they
are test DATA, not code. The stressors at the end cover the same failure
modes (antimeridian, many-ring multipolygons, slivers, near-degenerate
edges, exact sums) from geometry built here, each run alone and inside one
batched ``coverage_fraction_many`` call.
"""

from pathlib import Path

import numpy as np
import pytest

from exactextractr_spark.core import coverage
from exactextractr_spark.core.coverage import coverage_fraction, coverage_fraction_many
from exactextractr_spark.core.geom import from_wkt
from exactextractr_spark.core.grid import Box, Grid

RES = Path("/root/reference/src/exactextract/test/resources")


def load_wkt(name: str) -> str:
    # files are C++ string literals: "WKT..." possibly multi-line
    text = RES.joinpath(name).read_text()
    return text.strip().strip('"')


def crop_cov(grid: Grid, wkt: str):
    geom = from_wkt(wkt)
    b = geom.bounds()
    sub = grid.crop(Box(*b))
    return sub, coverage_fraction(sub, geom), geom


def test_fiji():
    # rightmost edge exactly on a cell wall (cpp:440-451)
    grid = Grid(-180.5, -90.5, 180.5, 90.5, 0.5, 0.5)
    fiji = (
        "MULTIPOLYGON (((178.3736000000001 -17.33992000000002, 178.71806000000007 "
        "-17.62845999999996, 178.5527099999999 -18.150590000000008, 177.93266000000008 "
        "-18.287990000000036, 177.38145999999992 -18.164319999999975, 177.28504000000007 "
        "-17.72464999999997, 177.67087 -17.381139999999974, 178.12557000000007 "
        "-17.50480999999995, 178.3736000000001 -17.33992000000002)), "
        "((179.36414266196417 -16.801354076946836, 178.7250593629972 -17.012041674368007, "
        "178.5968385951172 -16.63915000000003, 179.0966093629972 -16.43398427754741, "
        "179.4135093629972 -16.379054277547382, 180.00000000000003 -16.06713266364241, "
        "180.00000000000003 -16.555216566639146, 179.36414266196417 -16.801354076946836)), "
        "((-179.91736938476527 -16.501783135649347, -179.99999999999997 -16.555216566639146, "
        "-179.99999999999997 -16.06713266364241, -179.79332010904858 -16.020882256741217, "
        "-179.91736938476527 -16.501783135649347)))"
    )
    sub, cov, geom = crop_cov(grid, fiji)
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-12
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-9)


def test_small_polygon_single_cell():
    grid = Grid(0, 0, 10, 10, 10, 10)
    cov = coverage_fraction(grid, from_wkt("POLYGON ((3 3, 4 3, 4 4, 3 4, 3 3))"))
    np.testing.assert_allclose(cov, [[0.01]], atol=1e-15)


def test_fill_handled_correctly():
    # cpp:465-481: concave polygon with a slot — fill must not leak
    grid = Grid(0, 0, 3, 5, 1, 1)
    cov = coverage_fraction(
        grid,
        from_wkt(
            "POLYGON ((0.5 0.2, 2.2 0.2, 2.2 0.4, 0.7 0.4, 0.7 2.2, 2.2 2.2, "
            "2.2 0.6, 2.4 0.6, 2.4 4.8, 0.5 4.8, 0.5 0.2))"
        ),
    )
    want = np.array(
        [
            [0.40, 0.80, 0.32],
            [0.50, 1.00, 0.40],
            [0.44, 0.80, 0.36],
            [0.20, 0.00, 0.20],
            [0.22, 0.20, 0.12],
        ]
    )
    np.testing.assert_allclose(cov, want, atol=1e-12)


def test_result_indexing():
    # cpp:483-511: crop offsets within a larger grid
    grid = Grid(-20, -15, 40, 30, 0.5, 1)
    geom = from_wkt("POLYGON ((0.25 0.20, 2.75 0.20, 2.75 4.5, 0.25 4.5, 0.25 0.20))")
    sub = grid.crop(Box(*geom.bounds()))
    assert sub.nrows == 5 and sub.ncols == 6
    r_off, c_off = grid.row_col_offset(sub)
    assert (r_off, c_off) == (25, 40)
    cov = coverage_fraction(sub, geom)
    want = np.array(
        [
            [0.25, 0.50, 0.50, 0.50, 0.50, 0.25],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.50, 1.00, 1.00, 1.00, 1.00, 0.50],
            [0.40, 0.80, 0.80, 0.80, 0.80, 0.40],
        ]
    )
    np.testing.assert_allclose(cov, want, atol=1e-12)


@pytest.mark.parametrize(
    "fname,grid",
    [
        ("antarctica.wkt", Grid(-180, -90, 180, 90, 1 / 6, 1 / 6)),  # regression #1
        ("russia.wkt", Grid(-180, -90, 180, 90, 1 / 6, 1 / 6)),  # regression #2
        (
            "regression4.wkt",
            Grid(-166.84166666666667, 66.991666666666674, -152.625, 71.358333333333334,
                 0.0083333333333333332, 0.0083333333333333332),
        ),
    ],
)
def test_robustness_no_throw_and_area(fname, grid):
    sub, cov, geom = crop_cov(grid, load_wkt(fname))
    assert np.isfinite(cov).all()
    assert cov.min() >= -1e-9
    assert cov.max() <= 1 + 1e-9
    # area invariant restricted to the grid (these polygons lie inside it)
    assert cov.sum() * sub.dx * sub.dy == pytest.approx(geom.area(), rel=1e-6)


def test_regression3_sliver():
    grid = Grid(
        179.96666666664618,
        -16.541666666669137,
        179.99999999997954,
        -16.475000000002474,
        0.0083333333333328596,
        0.0083333333333328596,
    )
    geom = from_wkt(
        "POLYGON ((179.9715827094184135 -16.5409617106119526, "
        "180.0000000000000000 -16.5326999999999984, "
        "179.9872884114583655 -16.5342697143554425, "
        "179.9715827094184135 -16.5409617106119526))"
    )
    cov = coverage_fraction(grid, geom)
    assert np.isfinite(cov).all()


def test_regression6_exact_sum():
    # cpp:575-597: total coverage exactly 823.0, all fractions in [0,1]
    grid = Grid(145.925, -35.525, 147.375, -33.475, 0.05, 0.05)
    geom = from_wkt(load_wkt("regression6.wkt"))
    cov = coverage_fraction(grid, geom)
    assert cov.min() >= -1e-12
    assert cov.max() <= 1 + 1e-12
    assert cov.sum() == pytest.approx(823.0, abs=1e-6)


def test_regression7_degenerate_sliver():
    # cpp:599-614: near-degenerate triangle with a duplicate vertex pair;
    # fractions must stay within [0, polygon_area/cell_area]
    grid = Grid(487800, 5813800, 492800, 5818800, 100, 100)
    geom = from_wkt(
        "POLYGON ((492094.9283999996 5816959.8553, "
        "492374.9335527361 5816811.352641133, "
        "492374.9335527363 5816811.352641133, "
        "492094.9283999996 5816959.8553))"
    )
    cov = coverage_fraction(grid, geom)
    max_frac = geom.area() / (grid.dx * grid.dy)
    # the polygon's true area (~1e-9 m^2) is below float64 shoelace noise at
    # coordinate magnitude ~5e6, so compare with an absolute fraction fuzz
    assert cov.min() >= -1e-12
    assert cov.max() <= max_frac + 1e-9


# ---------------------------------------------------------------------------
# self-contained stressors
# ---------------------------------------------------------------------------

#: ordinary pairs that share each stressor's batched call
ORDINARY = [
    (Grid(0, 0, 3, 3, 1, 1),
     from_wkt("POLYGON ((0.5 0.5, 2.5 0.5, 2.5 2.5, 0.5 2.5, 0.5 0.5))")),
    (Grid(-2, -1, 5, 4, 0.5, 0.25),
     from_wkt("POLYGON ((-1 0, 4 -0.5, 3.3 3.7, -1.5 2, -1 0), (0 1, 1 2, 2 1, 0 1))")),
]


def alone_and_batched(grid: Grid, geom) -> np.ndarray:
    """Coverage of one pair, asserted bit-identical when the pair runs
    between ordinary pairs in one batched call (and the ordinary pairs
    unchanged by their neighbour)."""
    alone = coverage_fraction(grid, geom)
    (g0, p0), (g1, p1) = ORDINARY
    batch = coverage_fraction_many([g0, grid, g1], [p0, geom, p1])
    assert batch[1].shape == alone.shape
    assert batch[1].tobytes() == alone.tobytes()
    assert batch[0].tobytes() == coverage_fraction(g0, p0).tobytes()
    assert batch[2].tobytes() == coverage_fraction(g1, p1).tobytes()
    return alone


def box_wkt(x0, y0, x1, y1) -> str:
    return f"({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r})"


def assert_area(grid: Grid, cov: np.ndarray, area: float, rel: float) -> None:
    assert np.isfinite(cov).all()
    assert cov.min() >= 0.0
    assert cov.max() <= 1.0 + 1e-12
    assert abs(cov.sum() * grid.dx * grid.dy - area) <= rel * area


@pytest.mark.parametrize(
    "wkt",
    [
        "POLYGON (" + box_wkt(179.3, -17.2, 180.0, -16.1) + ")",
        "POLYGON (" + box_wkt(-180.0, -17.2, -179.4, -16.1) + ")",
        "MULTIPOLYGON ((" + box_wkt(179.25, -1.0, 180.0, 1.0) + "), (("
        + box_wkt(-180.0, -1.0, -179.75, 1.0)[1:-1] + ")))",
    ],
)
def test_stress_boxes_touching_antimeridian(wkt):
    geom = from_wkt(wkt)
    # a global half-degree grid whose outer edges lie ON longitude ±180
    world = Grid(-180, -90, 180, 90, 0.5, 0.5)
    for grid in (world, world.crop(Box(*geom.bounds()))):
        cov = alone_and_batched(grid, geom)
        assert_area(grid, cov, geom.area(), 1e-12)
    # the reference's Fiji grid, whose edges lie half a cell beyond ±180
    fiji = Grid(-180.5, -90.5, 180.5, 90.5, 0.5, 0.5).crop(Box(*geom.bounds()))
    assert_area(fiji, alone_and_batched(fiji, geom), geom.area(), 1e-12)


def many_ring_multipolygon() -> str:
    polys = []
    for i in range(5):
        for j in range(4):
            x, y = 0.37 + 2.1 * i, 0.21 + 2.3 * j
            holes = [box_wkt(x + 0.2, y + 0.3, x + 0.7, y + 0.9),
                     box_wkt(x + 1.0, y + 1.1, x + 1.6, y + 1.45)]
            ring = (f"({x!r} {y!r}, {x + 1.9!r} {y + 0.1!r}, {x + 1.8!r} {y + 2.0!r}, "
                    f"{x + 0.1!r} {y + 1.7!r}, {x!r} {y!r})")
            polys.append("(" + ", ".join([ring] + holes) + ")")
    return "MULTIPOLYGON (" + ", ".join(polys) + ")"


def test_stress_multipolygon_with_many_rings_and_holes(monkeypatch):
    geom = from_wkt(many_ring_multipolygon())
    assert sum(len(rings) for rings in geom.polygons()) >= 50
    grid = Grid(0, 0, 11, 10, 0.25, 0.25)
    cov = alone_and_batched(grid, geom)
    assert_area(grid, cov, geom.area(), 1e-12)
    # the multipolygon covers what its parts cover
    parts = sum(coverage_fraction(grid, p) for p in geom.parts)
    np.testing.assert_allclose(cov, parts, rtol=0, atol=1e-12)
    # rings sliced over several deposits combine into the same bits
    monkeypatch.setattr(coverage, "CELL_BUDGET", 3 * grid.size)
    assert coverage_fraction_many([grid], [geom])[0].tobytes() == cov.tobytes()


@pytest.mark.parametrize(
    "wkt",
    [
        # vertical sliver 1e-9 of a cell wide, crossing three rows
        "POLYGON ((1.3 0.2, 1.300000001 0.2, 1.300000001 2.8, 1.3 2.8, 1.3 0.2))",
        # slanted sliver crossing rows and columns
        "POLYGON ((0.2 0.1, 2.7 2.9, 2.700000001 2.9, 0.200000001 0.1, 0.2 0.1))",
        # horizontal sliver along a row boundary
        "POLYGON ((0.1 1.0, 2.9 1.0, 2.9 1.000000001, 0.1 1.000000001, 0.1 1.0))",
    ],
)
def test_stress_slivers(wkt):
    geom = from_wkt(wkt)
    grid = Grid(0, 0, 3, 3, 1, 1)
    cov = alone_and_batched(grid, geom)
    assert np.isfinite(cov).all()
    assert cov.min() >= 0.0
    assert cov.max() <= 1e-9 + 1e-15
    # a sliver's fractions are the difference of two nearly equal terms,
    # so its area holds to an absolute, not relative, bound
    assert abs(cov.sum() - geom.area()) <= 1e-14


def test_stress_vertices_one_ulp_apart():
    x = 1.5
    xn = float(np.nextafter(x, 2.0))
    y = 0.75
    yn = float(np.nextafter(y, 1.0))
    geom = from_wkt(
        f"POLYGON ((0.25 0.25, {x!r} {y!r}, {xn!r} {y!r}, {xn!r} {yn!r}, "
        f"2.75 2.5, 0.5 2.75, 0.25 0.25))"
    )
    spike = from_wkt(
        f"POLYGON ((0.5 0.5, 2.5 0.5, {x!r} 2.5, {xn!r} 2.5, 0.5 0.5))"
    )
    grid = Grid(0, 0, 3, 3, 1, 1)
    for g in (geom, spike):
        cov = alone_and_batched(grid, g)
        assert_area(grid, cov, g.area(), 1e-12)
    # the 1-ULP edge vertices land in one cell on two grids that split there
    fine = Grid(0, 0, 3, 3, 0.75, 0.75)
    assert_area(fine, alone_and_batched(fine, geom), geom.area(), 1e-12)


def test_stress_exact_sum_matches_shoelace():
    # dyadic vertices: every intermediate is exact, so the per-cell sum
    # reproduces the shoelace area to 1e-12
    geom = from_wkt(
        "POLYGON ((0.0625 0.3125, 2.8125 0.0625, 2.9375 2.6875, 1.5 1.25, "
        "0.4375 2.9375, 0.0625 0.3125), (0.5 0.5, 1.0 0.625, 0.75 1.0, 0.5 0.5))"
    )
    for grid in (Grid(0, 0, 3, 3, 0.25, 0.25), Grid(0, 0, 3, 3, 1, 1),
                 Grid(-0.5, -0.25, 3.5, 3.25, 0.5, 0.125)):
        cov = alone_and_batched(grid, geom)
        assert_area(grid, cov, geom.area(), 1e-12)
