"""Column detection on pathological scans (r5 verdict "What's missing"
item 3): skewed pages whose x0 drift exceeds the fixed cluster
tolerance, and gutter-bleed junk between the columns. The clean-page
path must stay bit-identical (slope estimate 0 → no correction)."""

from __future__ import annotations

from etl_city_directories_spark.sources.hocr import (
    COLUMN_TOLERANCE_PX,
    assign_columns,
    column_centers,
    deskew_x0,
    estimate_skew,
    stitch_continuations,
)


def _line(x0, y0, text):
    return (x0, y0, x0 + 600, y0 + 28, text)


def _two_col_page(skew=0.0, gutter_junk=False):
    """40 lines in two columns (x0 100 / 1400), optional linear skew
    and optional OCR junk lines in the gutter."""
    lines = []
    for i in range(20):
        y = 100 + i * 100
        drift = int(round(skew * (y - 100)))
        lines.append(_line(100 + drift, y, f"left entry {i}"))
        lines.append(_line(1400 + drift, y, f"right entry {i}"))
    if gutter_junk:
        for i in range(6):  # spine-shadow junk between the columns
            lines.append(_line(760 + 7 * i, 300 + i * 250, "|||"))
    return sorted(lines, key=lambda l: (l[1], l[0]))


def test_clean_page_unchanged_by_deskew():
    lines = _two_col_page(skew=0.0)
    assert estimate_skew(lines) == 0.0
    assert deskew_x0(lines, 0.0) == [l[0] for l in lines]
    cols = assign_columns(lines, 2)
    assert cols.count(0) == 20 and cols.count(1) == 20


def test_skewed_page_columns_recovered():
    """0.06 px/px skew = 114 px of drift over the page — nearly 4x the
    cluster tolerance. The fixed-tolerance scheme fragments the
    columns; the deskewed pass must recover the clean 20/20 split."""
    lines = _two_col_page(skew=0.06)
    # establish the failure the deskew exists for
    naive = assign_columns(lines, 2)
    assert naive.count(None) > 0 or naive.count(0) != 20
    slope = estimate_skew(lines)
    assert abs(slope - 0.06) < 0.01
    xs = deskew_x0(lines, slope)
    cols = assign_columns(lines, 2, xs)
    assert cols.count(0) == 20 and cols.count(1) == 20 and None not in cols


def test_negative_skew_also_recovered():
    lines = _two_col_page(skew=-0.05)
    slope = estimate_skew(lines)
    assert abs(slope + 0.05) < 0.01
    xs = deskew_x0(lines, slope)
    cols = assign_columns(lines, 2, xs)
    assert cols.count(0) == 20 and cols.count(1) == 20


def test_gutter_junk_does_not_shift_centers():
    """Junk lines in the gutter must neither become a column nor move
    the real centers (median centers shrug off merged bleed)."""
    clean = _two_col_page()
    dirty = _two_col_page(gutter_junk=True)
    cc = column_centers(clean, 2)
    cd = column_centers(dirty, 2)
    assert cc == cd == [100, 1400]
    cols = assign_columns(dirty, 2)
    # every junk line is unassigned and (being > MAX_INDENT past the
    # left column) dropped by stitching, not merged into an entry
    junk_idx = [i for i, l in enumerate(dirty) if l[4] == "|||"]
    assert all(cols[i] is None for i in junk_idx)
    stitched = stitch_continuations(dirty, cols, cd)
    texts = " ".join(t for *_, t, _c in stitched)
    assert "|||" not in texts
    assert len(stitched) == 40


def test_skewed_continuation_stitching():
    """An indented continuation on a skewed page must still fold into
    its base entry once x is corrected."""
    lines = _two_col_page(skew=0.06)
    # continuation 60 px past the left column start at y=2050
    drift = int(round(0.06 * (2050 - 100)))
    lines.append(_line(100 + drift + 60, 2050, "continued tail"))
    lines = sorted(lines, key=lambda l: (l[1], l[0]))
    slope = estimate_skew(lines)
    xs = deskew_x0(lines, slope)
    cols = assign_columns(lines, 2, xs)
    centers = column_centers(lines, 2, xs)
    stitched = stitch_continuations(lines, cols, centers, xs)
    assert len(stitched) == 40  # continuation folded, not emitted
    folded = [t for *_, t, _c in stitched if "continued tail" in t]
    assert len(folded) == 1 and folded[0].startswith("left entry 19")
