"""Arrow-batched pandas UDFs over the HTML oracle.

Every UDF here is the distributed face of a pure function in
``..oracle.html_oracle`` — the pytest suite pins byte-identical equality
between the two on the golden pages corpus. The parse itself is complex
scalar work (the reference's P1 operator, core/html_parser.py:41-138), so
a pandas UDF is the right Spark shape: one Python<->JVM crossing per Arrow
batch. The parse loop itself is pure Python (stdlib ``html.parser``);
``extract_text`` runs its text-only builder, whose token loop consumes the
common tag shapes with one compiled regex per token.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle.html_oracle import (
    extract_text,
    parse_html_tree,
    tree_stats,
    tree_to_json,
)


def _decode(html: object) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return str(html)


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html:binary -> oracle extracted text (the byte-identical invariant)."""
    return html.map(lambda b: extract_text(_decode(b)))


@F.pandas_udf(T.StringType())
def extract_text_clean_udf(html: pd.Series) -> pd.Series:
    """Practical variant: skips script/style/comments (not the oracle)."""
    return html.map(lambda b: extract_text(_decode(b), clean=True))


@F.pandas_udf(T.StringType())
def parse_tree_json_udf(html: pd.Series) -> pd.Series:
    """html -> canonical JSON of the reference parse tree (for compare UDFs)."""
    return html.map(lambda b: tree_to_json(parse_html_tree(_decode(b))))


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("n_elements", T.IntegerType()),
        T.StructField("n_text_nodes", T.IntegerType()),
        T.StructField("top_tags", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(_SIG_SCHEMA)
def tree_signature_udf(html: pd.Series) -> pd.DataFrame:
    """Cheap join-prefilter signature (the reference's node-count guard,
    core/file_matcher.py:131-183, generalized)."""
    rows = []
    for b in html:
        n_el, n_tx, hist = tree_stats(parse_html_tree(_decode(b)))
        top = [t for t, _ in sorted(hist.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
        rows.append((n_el, n_tx, top))
    return pd.DataFrame(rows, columns=["n_elements", "n_text_nodes", "top_tags"])


# Tailwind/utility class extraction (reference core/tailwind_analyzer.py:18-55).
# DOUBLE-quoted values only: the reference character class is ["\"] (the
# double quote twice), so className='single-quoted' yields NO classes —
# a previous [\"'] here silently extended the reference semantics.
_JSX_CLASS_RE = re.compile(r'(?:class|className)\s*=\s*"([^"]+)"')


def class_counts_from_tree(html_str: str) -> dict[str, int]:
    """HTML path: walk the FULL document tree collecting class tokens —
    the reference's soup.find_all(True) covers html/head too
    (core/tailwind_analyzer.py:18-31), so classes outside <body> count;
    the body-rooted parse_html_tree is the STRUCTURE oracle's shape, not
    this one's."""
    from ..oracle.html_oracle import _to_reference_node, parse_raw

    builder = parse_raw(html_str)
    tree = _to_reference_node(builder.document, False)
    counts: Counter[str] = Counter()
    stack = [tree] if tree else []
    while stack:
        node = stack.pop()
        if node["type"] == "element":
            for cls in node["attrs"].get("class", []) or []:
                counts[cls] += 1
            stack.extend(node["children"])
    return dict(counts)


def class_counts_from_markup(markup: str) -> dict[str, int]:
    """JSX/regex path (core/tailwind_analyzer.py:33-46)."""
    counts: Counter[str] = Counter()
    for m in _JSX_CLASS_RE.finditer(markup):
        for cls in m.group(1).split():
            counts[cls] += 1
    return dict(counts)


@F.pandas_udf(T.MapType(T.StringType(), T.IntegerType()))
def html_class_counts_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda b: class_counts_from_tree(_decode(b)))


# Geo metadata: <meta name="geo.position" content="LAT;LON"> (+ ICBM).
_GEO_POS_RE = re.compile(
    r"<meta\s+name=[\"'](?:geo\.position|ICBM)[\"']\s+content=[\"']\s*"
    r"(-?\d+(?:\.\d+)?)\s*[;,]\s*(-?\d+(?:\.\d+)?)\s*[\"']",
    re.IGNORECASE,
)

_GEO_SCHEMA = T.StructType(
    [
        T.StructField("meta_lat", T.DoubleType()),
        T.StructField("meta_lon", T.DoubleType()),
    ]
)


def head_slice(s: pd.Series) -> pd.Series:
    """Markup slice for <head>-scoped extraction: everything before the
    first '</head>' (whole document when no close tag exists). ONE spec
    shared by the fused (plans/pipeline.py) and unfused geocode paths so
    both geocode identically regardless of head size."""
    return s.str.split("</head>", n=1).str[0]


@F.pandas_udf(_GEO_SCHEMA)
def extract_meta_geo_udf(html: pd.Series) -> pd.DataFrame:
    """Vectorized geo-metadata extraction: pandas .str.extract on the
    decoded markup's head slice (regex runs in C, no per-row Python)."""
    s = head_slice(html.map(_decode))
    ext = s.str.extract(_GEO_POS_RE)
    return pd.DataFrame(
        {
            "meta_lat": pd.to_numeric(ext[0], errors="coerce"),
            "meta_lon": pd.to_numeric(ext[1], errors="coerce"),
        }
    )
