"""L2-L6 label kernel golden tests (labelhelper.cpp:102-269 semantics with
the pinned deterministic metrics table)."""

from __future__ import annotations

import pyspark.sql.functions as F

from osmgraft.functions.fontmetrics import DEFAULT_METRICS as M
from osmgraft.functions.labels import (
    compute_label_ball,
    compute_label_split,
    split_sizes,
)
from osmgraft.sources.config import default_config

CFG = default_config()
DELIMS = CFG.split_chars  # {' ', '-', '/'}
SPLIT_PX = CFG.split_bound * M.mean_letter_width  # 15 * 10 = 150


def test_width_basics():
    assert M.text_width("") == 0
    assert M.text_width("i") == 5
    assert M.text_width("m") == 16
    assert M.text_width("A") == 12
    # kerning applies pairwise
    assert M.text_width("AV") == 12 + 12 - 2
    assert M.text_width("VAV") == 12 + 12 - 2 + 12 - 2


def test_short_label_unsplit():
    label, radius = compute_label_ball("Bonn", "", 2, CFG.split_bound, DELIMS)
    assert label == "Bonn"
    w = M.text_width("Bonn")
    assert radius == float((w // 2) * 2)  # max(w,-1)//2 * factor 2


def test_icon_label():
    label, radius = compute_label_ball("anything", "school", 8, CFG.split_bound, DELIMS)
    assert label == "icon:school"
    assert radius == 10.0 * 8


def test_split_at_delimiter_near_median():
    name = "Oberhausen Unterhausen"  # width > 150 -> split at the space
    assert M.text_width(name) > SPLIT_PX
    out = compute_label_split(name, DELIMS)
    assert out == "Oberhausen\nUnterhausen"
    w1, w2 = split_sizes(out)
    assert w1 == M.text_width("Oberhausen")
    assert w2 == M.text_width("Unterhausen")


def test_no_delimiter_unsplit():
    name = "Donaudampfschifffahrtsgesellschaft"
    assert M.text_width(name) > SPLIT_PX
    assert compute_label_split(name, DELIMS) == name


def test_embedded_newline_takes_priority():
    # embedded CR -> normalized to '\n' -> recursive split at the newline
    name = "Morgenheim\rWinterhausen Extra"
    out = compute_label_split(name, DELIMS)
    assert out == "Morgenheim\nWinterhausen Extra"


def test_trailing_newline_stripped():
    name = "Sonnenberg Winterstadt Morgental\n"
    out = compute_label_split(name, DELIMS)
    assert "\n" in out
    l1, l2 = out.split("\n")
    assert "\n" not in l1 + l2  # the trailing newline did not survive


def test_choose_min_max_width_split():
    # two candidate delimiters around the median; the one minimizing
    # max(line1, line2) wins; ties prefer the right-side candidate (C++
    # strict '<' comparison, labelhelper.cpp:255-259)
    name = "aa-aaaaaaaaaaaaaaaa-aa"
    out = compute_label_split(name, DELIMS)
    assert out.count("\n") == 1
    l1, l2 = out.split("\n")
    alt = [
        max(M.text_width(a), M.text_width(b))
        for a, b in [(name[:i + 1].strip(" -"), name[i + 1:].strip(" -")) for i in (2, 19)]
    ]
    assert max(M.text_width(l1), M.text_width(l2)) == min(alt)


def test_radius_integer_division():
    # radius uses C++ int division: max(w1,w2)/2 with ints
    name = "Bad See"  # stays unsplit (below bound)
    label, radius = compute_label_ball(name, "", 1, CFG.split_bound, DELIMS)
    w = M.text_width(name)
    assert radius == float(w // 2)


def test_attach_label_ball_spark(spark):
    from osmgraft.functions.labels import attach_label_ball

    rows = [
        ("Bonn", "", 2),
        ("Oberhausen Unterhausen", "", 3),
        ("x", "school", 8),
    ]
    df = spark.createDataFrame(rows, "name string, icon string, factor int")
    out = {r["name"]: (r["label"], r["radius"]) for r in attach_label_ball(df, CFG).collect()}
    for name, icon, factor in rows:
        exp = compute_label_ball(name, icon, factor, CFG.split_bound, DELIMS)
        assert out[name] == exp


def test_format_complete_row(spark):
    from osmgraft.plans.pipeline import format_complete

    df = spark.createDataFrame(
        [(48.7758, 9.1829, 16, 5, 130.0004, 42, "Stutt\ngart", 30.0)],
        "lat double, lon double, level_id long, rank long, radius double, osm_id long, label string, factor double",
    )
    line = format_complete(df).collect()[0]["line"]
    # %.17f coords, rank (not level), radius ceiled to 3 decimals, quoted
    # label with \n escaped, factor %.3f (textoutputhelper.cpp:83-101)
    assert line == "48.77580000000000000 9.18290000000000000 5 130.001 42 'Stutt\\ngart' 30.000"
    line_eh = format_complete(df, export_hierarchy=True).collect()[0]["line"]
    assert line_eh.split(" ")[2] == "16"


def test_format_balls_rows(spark):
    """K2 (writeBallsFile, textoutputhelper.cpp:38-65): lat lon importance
    radius, %.17f coords, ceil-3 radius."""
    import pyspark.sql.functions as F

    from osmgraft.plans.pipeline import format_balls

    df = spark.createDataFrame(
        [(48.5, 9.25, 0, 12.3456), (-1.0, 2.0, 1, 7.0001)],
        "lat double, lon double, rank long, radius double",
    )
    lines = [r["line"] for r in format_balls(df).orderBy(F.col("line").desc()).collect()]
    assert lines[0] == "48.50000000000000000 9.25000000000000000 0 12.346"
    assert lines[1] == "-1.00000000000000000 2.00000000000000000 1 7.001"


def test_font_atlas_info_roundtrip(tmp_path):
    # K3 analog: metrics -> .info export -> load gives identical widths,
    # closing the loop on where broadcast metrics come from.
    import json

    from osmgraft.functions.fontmetrics import (
        DEFAULT_METRICS,
        create_font_atlas_info,
        load_font_metrics,
    )

    alphabet = "ABLTVafijlmotw .-"
    path = create_font_atlas_info(alphabet, "test_font", str(tmp_path))
    loaded = load_font_metrics(path)
    for s in ["AVATar", "LTfi", "mow mow", "fil", "T o", ""]:
        assert loaded.text_width(s) == DEFAULT_METRICS.text_width(s), s
    root = json.load(open(path))
    # reference .info structure (font.cpp:297-360)
    assert set(root) == {"advance", "alphabet", "atlas", "font", "glyph", "kerning"}
    assert root["alphabet"] == "".join(sorted(set(alphabet)))
    n = len(root["alphabet"])
    assert len(root["advance"]) == n and len(root["kerning"]) == n
    assert all(len(row) == n for row in root["kerning"])
    assert root["glyph"]["mean_width"] >= 1


def test_font_atlas_png_raster(tmp_path):
    # K3 raster side: the PNG atlas must be a valid PNG whose dimensions
    # equal the .info atlas size and whose per-cell ink width equals each
    # glyph's advance (grid scan order = sorted alphabet, as in
    # font.cpp:203-293's cairo loop).
    import json

    from osmgraft.functions.fontmetrics import (
        DEFAULT_METRICS,
        create_font_atlas_info,
        read_png_gray8,
        render_font_atlas_png,
    )

    alphabet = "ABLTVafijlmotw .-"
    info_path = create_font_atlas_info(alphabet, "test_font", str(tmp_path))
    png_path = render_font_atlas_png(alphabet, "test_font", str(tmp_path))
    root = json.load(open(info_path))
    w, h, px = read_png_gray8(png_path)
    assert (w, h) == (root["atlas"]["size"]["width"], root["atlas"]["size"]["height"])
    chars = root["alphabet"]
    cell_w = root["glyph"]["width"]
    cell_h = root["glyph"]["height"]
    cols = root["atlas"]["dimension"]["columns"]
    for i, c in enumerate(chars):
        adv = DEFAULT_METRICS.advance(c)
        cx, cy = (i % cols) * cell_w, (i // cols) * cell_h
        mid = cy + cell_h // 2  # a row inside the ink band
        row = px[mid * w + cx : mid * w + cx + cell_w]
        assert row[:adv] == b"\xff" * adv, c
        assert all(b == 0 for b in row[adv:]), c


def test_png_gray8_roundtrip(tmp_path):
    import struct
    import zlib

    from osmgraft.functions.fontmetrics import read_png_gray8, write_png_gray8

    pix = bytes(range(256)) * 4  # 32x32
    p = str(tmp_path / "x.png")
    write_png_gray8(p, 32, 32, pix)
    assert read_png_gray8(p) == (32, 32, pix)

    # non-square, and checked against the PNG spec rather than the
    # matching reader: IHDR first, every chunk CRC valid, IEND last
    pix = bytes((7 * i) % 256 for i in range(13 * 9))
    write_png_gray8(p, 13, 9, pix)
    assert read_png_gray8(p) == (13, 9, pix)
    with open(p, "rb") as fh:
        data = fh.read()
    pos, tags = 8, []
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        body = data[pos + 4 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        assert crc == zlib.crc32(body) & 0xFFFFFFFF
        tags.append(body[:4])
        pos += 12 + ln
    assert pos == len(data) and tags[0] == b"IHDR" and tags[-1] == b"IEND"
    assert struct.unpack(">IIBBBBB", data[16:29]) == (13, 9, 8, 0, 0, 0, 0)


# ---------------------------------------------------------------------------
# L7 legacy char-count split (osmpoi.cpp:121-199, dead reference code —
# implemented for completeness with the intended semantics; the literal
# C++ '%'-scrub bug collapses the string and throws, see labels.py note).
# ---------------------------------------------------------------------------

def test_legacy_split_matches_python_reference_cases():
    from osmgraft.functions.labels import legacy_compute_split

    d = frozenset(" -/")
    # hand-derived expectations following osmpoi.cpp literally
    assert legacy_compute_split("", d) == ""
    assert legacy_compute_split("a", d) == "a"
    assert legacy_compute_split("abcdef", d) == "abcdef"          # no delim
    assert legacy_compute_split("abc def", d) == "abc%def"        # space scrubbed + marker
    assert legacy_compute_split("foo\nbar", d) == "foo%bar"       # newline -> '%' delims
    assert legacy_compute_split("a^Mb", d) == "a%b"               # literal ^M form
    # ties go to the right of center: "ab cd ef" center=4(' ' at 2 and 5):
    # |2-4|*2+1=5, |5-4|*2+0=2 -> d=5
    assert legacy_compute_split("ab cd ef", d) == "ab cd%ef"
    # no-split path still applies first-occurrence cleanups
    assert legacy_compute_split("a %b", frozenset()) == "a%b"


def test_legacy_ball_radius_bytes():
    from osmgraft.functions.labels import legacy_ball_radius

    # byte semantics: "café%x" -> first half 5 bytes (é is 2), second 2
    assert legacy_ball_radius("café%x") == 2.5
    assert legacy_ball_radius("ab%cdef") == 2.5   # len 7, delim_pos 2 <= 3 -> 7-2=5
    assert legacy_ball_radius("abcd") == 2.0      # no '%': larger half = whole
    assert legacy_ball_radius("") == 0.0


def test_legacy_split_expr_parity_randomized(spark):
    """Catalyst expression == Python reference on a seeded random corpus
    covering unicode, every newline form, literal '%', and tie layouts."""
    import random

    from osmgraft.functions.labels import (
        NEWLINE_FORMS,
        legacy_ball_radius,
        legacy_ball_radius_expr,
        legacy_compute_split,
        legacy_split_expr,
    )

    rng = random.Random(1234)
    alphabet = list("abc XY-/%ä日") + list(NEWLINE_FORMS)
    cases = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24))) for _ in range(300)]
    delims = " -/"

    want = [legacy_compute_split(s, frozenset(delims)) for s in cases]
    want_r = [legacy_ball_radius(w) for w in want]

    df = spark.createDataFrame(list(enumerate(cases)), "id int, s string")
    split = legacy_split_expr("s", delims)
    got = (
        df.select("id", split.alias("r"), legacy_ball_radius_expr(split).alias("rad"))
        .orderBy("id")
        .collect()
    )
    for i, row in enumerate(got):
        assert row["r"] == want[i], (i, cases[i], row["r"], want[i])
        assert row["rad"] == want_r[i], (i, cases[i])
