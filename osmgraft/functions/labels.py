"""L2-L6: label normalization, two-line split, and label-ball radius.

Faithful re-implementation of the reference label kernel
(/root/reference/src/label/labelhelper.cpp) over Python codepoint strings
(the reference round-trips UTF-8 <-> UTF-32, utf8helper.cpp:57-121; Python
strings are already codepoint sequences).

Executed over Arrow batches (``label_balls``): inside the pipeline's fused
point and area kernels (plans/pipeline.py), or as the pandas UDF
``label_ball_udf``. The per-string control flow is irregular (median scan,
delimiter search) exactly as in the reference, but strings are short
(labels), so the per-batch Python cost is bounded and there is NO per-row
serialization.

Semantics notes (all pinned by tests):
- ``replaceAllOf`` replaces only the FIRST occurrence of each form
  (labelhelper.cpp:33-43) — reproduced literally.
- The C++ iterates ``std::unordered_set`` (nondeterministic order); we fix
  the declaration order of utf8helper.cpp:23-55, a deterministic choice.
- ``radius = max(w1, w2) / 2`` is C++ *integer* division
  (labelhelper.cpp:113-121) — reproduced.
- trailing-newline strip looks at the 2-char suffix then the 1-char suffix
  (labelhelper.cpp:172-181).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from osmgraft.functions.fontmetrics import DEFAULT_METRICS, FontMetrics

# utf8helper.cpp:23-36 — newline forms, declaration order.
NEWLINE_FORMS: tuple[str, ...] = (
    "\r\n",      # CR+LF
    "\n",        # LF
    "\u000b",    # vertical tab
    "\u000c",    # form feed
    "\r",        # CR
    "\u0085",    # next line
    "\u2028",    # line separator
    "\u2029",    # paragraph separator
    "^M",        # literal two-char marker (utf8helper.cpp:34)
)
# utf8helper.cpp:38-55 — blank forms.
BLANK_FORMS: tuple[str, ...] = (
    "\u0009", "\u0020", "\u00a0", "\u1680",
    "\u2000", "\u2001", "\u2002", "\u2003", "\u2004", "\u2005",
    "\u2006", "\u2007", "\u2008", "\u2009", "\u200a",
    "\u202f", "\u205f", "\u3000",
)
_NEWLINE_SET = frozenset(NEWLINE_FORMS)


def _replace_first_of(forms: Iterable[str], by: str, s: str) -> str:
    """replaceAllOf (labelhelper.cpp:33-43): first occurrence per form."""
    for form in forms:
        if form in s:
            s = s.replace(form, by, 1)
    return s


def _trim(s: str, ch: str = " ") -> str:
    """trim (labelhelper.cpp:45-60): strip exact char both ends."""
    return s.strip(ch)


def _to_label_split(label: str, split_pos: int) -> tuple[str, str]:
    """toLabelSplit (labelhelper.cpp:63-82)."""
    l1, l2 = label[: split_pos + 1], label[split_pos + 1 :]
    l1 = _replace_first_of(NEWLINE_FORMS, " ", l1)
    l2 = _replace_first_of(NEWLINE_FORMS, " ", l2)
    l1 = _replace_first_of(BLANK_FORMS, " ", l1)
    l2 = _replace_first_of(BLANK_FORMS, " ", l2)
    return _trim(l1), _trim(l2)


def compute_label_split(
    label: str,
    delims: frozenset[str],
    metrics: FontMetrics = DEFAULT_METRICS,
) -> str:
    """computeLabelSplit (labelhelper.cpp:160-269)."""
    # strip trailing newline info (:172-181)
    if len(label) >= 2 and label[-2:] in _NEWLINE_SET:
        label = label[:-1]
    if len(label) >= 1 and label[-1:] in _NEWLINE_SET:
        label = label[:-1]
    if len(label) <= 1:
        return label

    # normalize all non-'\n' newline forms to '\n' (:189-210)
    newline_info = False
    for form in NEWLINE_FORMS:
        if form[0] in delims:
            continue
        if form == "\n":
            if form in label:
                newline_info = True
            continue
        while form in label:
            newline_info = True
            label = label.replace(form, "\n", 1)
    if newline_info:
        return compute_label_split(label, frozenset("\n"), metrics)

    # median position by rendered width (:222-227)
    length = metrics.text_width(label)
    index = 0
    while index < len(label) and metrics.text_width(label[:index]) < length // 2:
        index += 1

    if index < len(label) and label[index] in delims:
        l1, l2 = _to_label_split(label, index)
        return l1 + "\n" + l2

    # nearest delimiter left of median (exclusive of position 0, :230-239)
    best_first: tuple[str, str] | None = None
    size_first = None
    for i in range(index - 1, 0, -1):
        if label[i] in delims:
            best_first = _to_label_split(label, i)
            size_first = max(metrics.text_width(best_first[0]), metrics.text_width(best_first[1]))
            break
    # nearest delimiter right of median (:241-250)
    best_second: tuple[str, str] | None = None
    size_second = None
    for i in range(index + 1, len(label)):
        if label[i] in delims:
            best_second = _to_label_split(label, i)
            size_second = max(metrics.text_width(best_second[0]), metrics.text_width(best_second[1]))
            break

    if best_first is None and best_second is None:
        return label  # no viable split (:262-264)
    if best_second is None or (best_first is not None and size_first < size_second):
        l1, l2 = best_first  # type: ignore[misc]
    else:
        l1, l2 = best_second
    return l1 + "\n" + l2


def split_sizes(label: str, metrics: FontMetrics = DEFAULT_METRICS) -> tuple[int, int]:
    """computeLabelSplitSize (labelhelper.cpp:144-158): split on FIRST '\\n'."""
    pos = label.find("\n")
    if pos < 0:
        return metrics.text_width(label), -1
    return metrics.text_width(label[:pos]), metrics.text_width(label[pos + 1 :])


def compute_label_ball(
    name: str,
    icon: str,
    factor: int,
    split_bound: int,
    split_chars: frozenset[str],
    metrics: FontMetrics = DEFAULT_METRICS,
) -> tuple[str, float]:
    """computeLabelBall (labelhelper.cpp:102-134) -> (label, radius)."""
    if icon:
        label = "icon:" + icon
        radius: float = float(metrics.mean_letter_width)
    else:
        split_size_px = split_bound * metrics.mean_letter_width  # labelhelper.cpp:90
        if metrics.text_width(name) > split_size_px:
            label = compute_label_split(name, split_chars, metrics)
        else:
            label = name
        w1, w2 = split_sizes(label, metrics)
        radius = float(max(w1, w2) // 2)  # C++ int division (:121)
    return label, radius * factor  # factor applied last (:124)


# ---------------------------------------------------------------------------
# L7: legacy char-count split (osmpoi.cpp:121-186 computeSplit,
# :187-199 computeBallRadius). Dead code in the reference tree (no caller);
# implemented for completeness with the evident intended semantics.
#
# Literal-bug note (pinned in tests, mirrored nowhere): the C++ '%'-to-space
# scrub executes ``tmpLabel = tmpLabel[occ] = U' '`` (osmpoi.cpp:151-153,
# 161-164) — ``basic_string::operator=(char32_t)`` collapses the WHOLE
# string to a single space, after which the following ``substr(centerPos
# + pos + 1, ...)`` throws std::out_of_range for any realistic split index.
# Being unreachable, the bug has no observable behavior to reproduce; the
# intent (scrub each '%' to ' ', then insert the split marker) is
# unambiguous from the surrounding code and is what we implement.
# ---------------------------------------------------------------------------

# osmpoi.cpp:109-119 NEWLINE[] in declaration order. Sequential first-form
# full replacement is equivalent to one ordered-alternation regex pass
# because every replacement emits '%', which no form contains (so no new
# matches are created) and CRLF precedes CR and LF in both schemes.
_LEGACY_NEWLINE_RE = "\r\n|[\n\u000b\u000c\r\u0085\u2028\u2029]|\\^M"


def legacy_compute_split(label: str, delims: frozenset[str]) -> str:
    """Python reference for computeSplit (osmpoi.cpp:121-186).

    The C++ scans pos=0,1,.. outward from centerPos=(len+1)/2 (0-based,
    codepoints), probing centerPos+pos before centerPos-pos — equivalent to
    choosing the delimiter index d minimizing ``|d-center|*2 + (d<center)``.
    Every index 1..len-1 satisfies the ``pos < centerPos`` bound, so the
    scan degenerates to "delimiter nearest the center, ties to the right".
    The index-==-size probe reads u32string's NUL terminator (defined in
    C++11, never a delimiter) and is dropped.
    """
    s = label
    newline = False
    for form in NEWLINE_FORMS:
        while form in s:
            newline = True
            s = s.replace(form, "%", 1)
    if newline:
        return legacy_compute_split(s, frozenset("%"))

    n = len(s)
    center = (n + 1) // 2
    best: tuple[int, int] | None = None
    for d in range(1, n):
        if s[d] in delims:
            key = abs(d - center) * 2 + (1 if d < center else 0)
            if best is None or key < best[0]:
                best = (key, d)

    result = s
    if best is not None:
        d = best[1]
        cleaned = s.replace("%", " ")
        result = cleaned[: d + 1] + "%" + cleaned[d + 1 :]
    # first-occurrence cleanups, applied even on the no-split path
    # (osmpoi.cpp:180-183)
    if " %" in result:
        result = result.replace(" %", "%", 1)
    if "% " in result:
        result = result.replace("% ", "%", 1)
    return result


def legacy_ball_radius(label: str) -> float:
    """computeBallRadius (osmpoi.cpp:187-199): BYTE-based (std::string
    indices on UTF-8), radius = larger 'half' / 2.0; the '%' itself counts
    into the second half."""
    b = label.encode("utf-8")
    delim_pos = b.find(b"%")
    if delim_pos < 0:
        delim_pos = len(b)
    label_size = delim_pos if delim_pos > len(b) // 2 else len(b) - delim_pos
    return label_size / 2.0


def _replace_first_expr(c: Column, pat: str) -> Column:
    """Replace the FIRST occurrence of ``pat`` (no regex metacharacters)
    with '%'. One anchored regex refers to ``c`` once, so nesting this
    call does not multiply the expression tree."""
    return F.regexp_replace(c, "(?s)^(.*?)" + pat, "$1%")


def legacy_split_expr(label, delims: str) -> Column:
    """Pure-Catalyst legacy split — no Python in the scan path.

    Candidate positions come from a ``filter(sequence(...))`` over
    codepoint indices with a struct-min argmin; all string ops are
    codepoint-based builtins, so the whole expression stays inside
    WholeStageCodegen.
    """
    c = F.col(label) if isinstance(label, str) else label
    s = F.regexp_replace(c, _LEGACY_NEWLINE_RE, "%")
    delim_lit = F.when(s != c, F.lit("%")).otherwise(F.lit("".join(sorted(delims))))

    n = F.length(s)
    center = F.floor((n + 1) / F.lit(2)).cast("int")
    ds = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    cands = F.filter(ds, lambda d: F.contains(delim_lit, F.substring(s, d + 1, F.lit(1))))
    keyed = F.transform(
        cands,
        lambda d: F.struct(
            (F.abs(d - center) * 2 + F.when(d < center, 1).otherwise(0)).alias("k"),
            d.alias("d"),
        ),
    )
    best_d = F.array_min(keyed)["d"]

    cleaned = F.translate(s, "%", " ")
    result = F.when(best_d.isNull(), s).otherwise(
        F.concat(
            F.substring(cleaned, F.lit(1), best_d + 1),
            F.lit("%"),
            F.substring(cleaned, best_d + 2, n),
        )
    )
    return _replace_first_expr(_replace_first_expr(result, " %"), "% ")


def legacy_ball_radius_expr(label) -> Column:
    """Catalyst twin of :func:`legacy_ball_radius` (byte semantics via
    octet_length)."""
    c = F.col(label) if isinstance(label, str) else label
    blen = F.octet_length(c)
    p = F.instr(c, "%")
    delim_pos = F.when(p > 0, F.octet_length(F.substring(c, F.lit(1), p - 1))).otherwise(blen)
    label_size = F.when(delim_pos > F.floor(blen / F.lit(2)), delim_pos).otherwise(
        blen - delim_pos
    )
    return (label_size / F.lit(2.0)).cast("double")


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_BALL_SCHEMA = StructType(
    [StructField("label", StringType()), StructField("radius", DoubleType())]
)


def label_balls(
    names: Iterable,
    icons: Iterable,
    factors: Iterable,
    split_bound: int,
    split_chars: frozenset[str],
    metrics: FontMetrics = DEFAULT_METRICS,
) -> tuple[list[str], list[float]]:
    """compute_label_ball over a batch of (name, icon, factor) columns ->
    (labels, radii). A null name or icon counts as ''. The one label loop
    of the UDF below and of the pipeline's fused label kernels."""
    labels: list[str] = []
    radii: list[float] = []
    for n, ic, fa in zip(names, icons, factors):
        lb, r = compute_label_ball(
            n if isinstance(n, str) else "",
            ic if isinstance(ic, str) else "",
            int(fa),
            split_bound,
            split_chars,
            metrics,
        )
        labels.append(lb)
        radii.append(r)
    return labels, radii


def label_ball_udf(split_bound: int, split_chars: frozenset[str], metrics: FontMetrics = DEFAULT_METRICS):
    """Arrow-batched (name, icon, factor) -> struct(label, radius).

    The closure captures only the small immutable metrics table; Spark
    serializes it once per task, not per row.
    """
    chars = frozenset(split_chars)

    @F.pandas_udf(_BALL_SCHEMA)
    def _ball(name: pd.Series, icon: pd.Series, factor: pd.Series) -> pd.DataFrame:
        labels, radii = label_balls(
            name.to_numpy(), icon.to_numpy(), factor.to_numpy(), split_bound, chars, metrics
        )
        return pd.DataFrame({"label": labels, "radius": radii})

    return _ball


def attach_label_ball(df, cfg, name_col: str = "name", icon_col: str = "icon", factor_col: str = "factor"):
    """Add ``label``/``radius`` columns to a POI frame (driver loop
    main.cpp:148-154, re-expressed as one vectorized projection)."""
    udf = label_ball_udf(cfg.split_bound, cfg.split_chars)
    ball = udf(F.col(name_col), F.col(icon_col), F.col(factor_col))
    return df.withColumn("_ball", ball).withColumn("label", F.col("_ball.label")).withColumn(
        "radius", F.col("_ball.radius")
    ).drop("_ball")


def format_balls_rows(df, sep: str = " ") -> Column:
    """K2 balls-only row formatter (writeBallsFile,
    textoutputhelper.cpp:38-65): ``lat sep lon sep importance sep radius``
    with %.17f coords, sequential importance (== the global rank), radius
    ceiled to 3 decimals."""
    radius_ceiled = F.ceil(F.col("radius") * 1000) / 1000.0
    return F.format_string(
        f"%.17f{sep}%.17f{sep}%d{sep}%.3f",
        F.col("lat"),
        F.col("lon"),
        F.col("rank"),
        radius_ceiled,
    )


def format_complete_rows(df, sep: str = " ", export_hierarchy: bool = False) -> Column:
    """K1 row formatter (textoutputhelper.cpp:80-101):
    ``lat lon level|rank radius osm_id 'label' factor`` with %.17f coords,
    radius ceiled to 3 decimals, '\\n' escaped, factor %.3f (the stream
    keeps std::fixed/precision(3) from the radius write)."""
    level = F.col("level_id") if export_hierarchy else F.col("rank")
    radius_ceiled = F.ceil(F.col("radius") * 1000) / 1000.0
    label_esc = F.regexp_replace(F.col("label"), "\n", r"\\n")
    return F.format_string(
        f"%.17f{sep}%.17f{sep}%d{sep}%.3f{sep}%d{sep}'%s'{sep}%.3f",
        F.col("lat"),
        F.col("lon"),
        level,
        radius_ceiled,
        F.col("osm_id"),
        label_esc,
        F.col("factor"),
    )
