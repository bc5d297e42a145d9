"""Arrow-batched pandas UDFs wrapping the pure-Python core.

Design (SURVEY.md §3.1 "Spark shape"): the whole reference lifecycle —
parse → preprocess → metadata → candidates → classify → render
(/root/reference/src/extract/extract.ts:777-859) — collapses into ONE
scalar pandas UDF applied per Arrow batch.  There is no per-row Python at
the Spark level: the JVM transfers one Arrow batch (~1-4k rows), Python maps
the pure function over it, one Arrow batch comes back.  The extraction
itself is per-document by nature; the vectorization win is batch-level
amortization of the JVM↔Python boundary, not SIMD.

``explode_nodes`` materializes the serializer's flat adjacency encoding
(/root/reference/src/serializer.ts:25-43) as a relational node table for
SQL users (candidate scoring / link stats become ordinary groupBys there).
"""

from __future__ import annotations

import sys
import zipimport
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from readability_core import extract as _extract_one
from readability_core.constants import DEFAULT_CHAR_THRESHOLD
from readability_core.preprocess import preprocess_document
from readability_core.vdom import parse_html

from .schema import EXTRACT_SCHEMA, NODE_SCHEMA

_FIELDS = [f.name for f in EXTRACT_SCHEMA.fields]

# PySpark calls importlib.invalidate_caches() at the start of every task.
# Before CPython 3.13 that makes every cached zipimporter re-read its whole
# archive directory in pure Python, and a worker caches one importer per
# package prefix of pyspark.zip, the py4j zip and the spark-core jar: about
# 0.25 s per task.  In a worker (a TaskContext exists while the task's UDFs
# are unpickled, which imports this module) the rescan is dropped for the
# life of the process.  Safe because the archives on a worker's path never
# change under it: Spark ships added files and --py-files once each and
# adds them as new path entries, whose importers read their directory when
# created.  Directory (FileFinder) invalidation is kept, so newly shipped
# .py files still import.  3.13 made the rescan lazy; the driver is never
# patched.
if sys.version_info < (3, 13) and TaskContext.get() is not None:
    zipimport.zipimporter.invalidate_caches = lambda self: None


def _extract_record(html, char_threshold: int = DEFAULT_CHAR_THRESHOLD,
                    build_aria: bool = False) -> dict:
    try:
        rec = _extract_one(html, char_threshold=char_threshold,
                           build_aria=build_aria)
        links = rec["links"]
        rec["link_hrefs"] = [l["href"] for l in links]
        rec["link_texts"] = [l["text"] for l in links]
        return rec
    except Exception as exc:  # never fail the batch for one bad row
        return dict(
            page_type="other", page_type_v2="other",
            article_possibility=0.0, title="", byline=None, lang=None,
            site_name=None, extracted_text="", extracted_md="",
            node_count=0, top_score=0.0,
            candidate_scores=[], n_candidates=0, link_hrefs=[],
            link_texts=[], n_links=0, aria_tree="", aria_node_count=0,
            body_text_len=0, char_yield=0, span_start=-1, span_end=-1,
            error=f"exception:{type(exc).__name__}")


def _to_frame(records: list, fields: list) -> pd.DataFrame:
    # column-wise construction: ~2× faster than pd.DataFrame(list_of_dicts)
    return pd.DataFrame({f: [r[f] for r in records] for f in fields})


def make_extract_udf(char_threshold: int = DEFAULT_CHAR_THRESHOLD,
                     include_aria: bool = False):
    """Scalar pandas UDF: HTML series → EXTRACT_SCHEMA struct (one per turn).

    ``char_threshold`` is a job parameter: the reference's defaults differ
    by entry point (500 lib / 250 CLI / 100 MCP, src/constants.ts:15,
    cli.js:168, src/mcp-server.ts:27).  The ARIA snapshot costs ~68% extra
    CPU, so by default it is not computed (its columns stay, empty);
    ``include_aria=True`` gives full reference-extract() parity."""

    @pandas_udf(EXTRACT_SCHEMA)
    def extract_udf(texts: pd.Series) -> pd.DataFrame:
        return _to_frame(
            [_extract_record(t, char_threshold, include_aria) for t in texts],
            _FIELDS)

    return extract_udf


extract_udf = make_extract_udf()


from pyspark.sql import types as T  # noqa: E402

STRUCTURE_SCHEMA = T.StructType([
    T.StructField("n_headers", T.IntegerType()),
    T.StructField("n_navs", T.IntegerType()),
    T.StructField("nav_types", T.ArrayType(T.StringType())),
    T.StructField("main_nav_type", T.StringType()),
    T.StructField("n_nav_items", T.IntegerType()),
    T.StructField("has_main_content", T.BooleanType()),
    T.StructField("has_sidebar", T.BooleanType()),
    T.StructField("has_footer", T.BooleanType()),
    T.StructField("n_sections", T.IntegerType()),
    T.StructField("outline", T.StringType()),
    T.StructField("breadcrumb", T.StringType()),
    T.StructField("pagination_prev", T.StringType()),
    T.StructField("pagination_next", T.StringType()),
    T.StructField("error", T.StringType()),
])

_STRUCT_FIELDS = [f.name for f in STRUCTURE_SCHEMA.fields]


def _structure_record(html) -> dict:
    """Two-phase analysis record: runs on RAW html (detect/index.ts:44-55 —
    detection pre-preprocess, extraction post-preprocess)."""
    from readability_core.detect import (
        analyze_document_structure,
        format_sections_as_markdown,
    )
    try:
        s = analyze_document_structure(html)
        navs = s["navigations"]
        pag = s.get("pagination") or {}
        breadcrumb = ""
        if s["breadcrumb"] is not None:
            breadcrumb = " > ".join(
                i["label"] for i in s["breadcrumb"]["items"])
        return {
            "n_headers": len(s["headers"]),
            "n_navs": len(navs),
            "nav_types": [n["type"] for n in navs],
            "main_nav_type": navs[0]["type"] if navs else None,
            "n_nav_items": sum(len(n["items"]) for n in navs),
            "has_main_content": s["mainContent"] is not None,
            "has_sidebar": s["sidebar"] is not None,
            "has_footer": s["footer"] is not None,
            "n_sections": len(s.get("sections") or []),
            "outline": format_sections_as_markdown(s.get("sections") or []),
            "breadcrumb": breadcrumb,
            "pagination_prev": (pag.get("prev") or {}).get("href"),
            "pagination_next": (pag.get("next") or {}).get("href"),
            "error": None,
        }
    except Exception as exc:
        rec = {k: None for k in _STRUCT_FIELDS}
        rec.update(n_headers=0, n_navs=0, nav_types=[], n_nav_items=0,
                   has_main_content=False, has_sidebar=False,
                   has_footer=False, n_sections=0, outline="",
                   breadcrumb="", error=f"exception:{type(exc).__name__}")
        return rec


@pandas_udf(STRUCTURE_SCHEMA)
def structure_udf(texts: pd.Series) -> pd.DataFrame:
    """Page/document structure analysis per turn (raw HTML, uncompressed
    ARIA tree — the reference's two-phase design)."""
    return _to_frame([_structure_record(t) for t in texts], _STRUCT_FIELDS)


HIERARCHY_SCHEMA = T.StructType([
    T.StructField("n_parent", T.IntegerType()),
    T.StructField("n_sibling", T.IntegerType()),
    T.StructField("n_child", T.IntegerType()),
    T.StructField("n_external", T.IntegerType()),
])


@pandas_udf(HIERARCHY_SCHEMA)
def hierarchy_udf(texts: pd.Series, urls: pd.Series) -> pd.DataFrame:
    """Extract links from HTML and categorize them against the page URL
    (parse → preprocess → extractLinks → analyzeLinkHierarchy,
    reference: src/nav/hierarchy.ts:28-221)."""
    from readability_core.hierarchy import analyze_link_hierarchy
    from readability_core.metadata import extract_links

    rows = []
    for html, url in zip(texts, urls):
        try:
            doc = parse_html(html if isinstance(html, str) else "")
            preprocess_document(doc)
            links = extract_links(doc)
            a = analyze_link_hierarchy(links, url)
            rows.append((len(a["parent"]), len(a["sibling"]),
                         len(a["child"]), len(a["external"])))
        except Exception:
            rows.append((0, 0, 0, 0))
    return pd.DataFrame(
        rows, columns=["n_parent", "n_sibling", "n_child", "n_external"])


def register_udfs(spark: SparkSession) -> None:
    """Expose the engine to SQL users (SURVEY.md §2.13 UDF surface)."""
    spark.udf.register("readability_extract", extract_udf)
    spark.udf.register("readability_structure", structure_udf)
    spark.udf.register("readability_link_hierarchy", hierarchy_udf)


# --- node-table explosion ----------------------------------------------------

_NODE_FIELDS = [f.name for f in NODE_SCHEMA.fields]


def _doc_to_rows(conv_id, turn_idx, html) -> list:
    doc = parse_html(html if isinstance(html, str) else "")
    preprocess_document(doc)
    rows = []
    # iterative DFS assigning pre-order ids = document order
    stack = [(doc.document_element, -1, 0)]
    next_id = 0
    while stack:
        node, parent_id, depth = stack.pop()
        nid = next_id
        next_id += 1
        if node.nodeType == "text":
            rows.append((conv_id, turn_idx, nid, parent_id, "text", None,
                         None, node.text, depth, nid))
        else:
            rows.append((conv_id, turn_idx, nid, parent_id, "element",
                         node.tag, dict(node.attrs), None, depth, nid))
            stack.extend((c, nid, depth + 1) for c in reversed(node.children))
    return rows


def explode_nodes(df: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text) → flat node table via mapInPandas.

    The per-document tree never crosses the JVM boundary; only the flat
    adjacency rows do.  Pre-order ``node_id`` doubles as document order.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                out.extend(_doc_to_rows(conv_id, int(turn_idx), text))
            yield pd.DataFrame(out, columns=_NODE_FIELDS)

    return df.select("conv_id", "turn_idx", "text").mapInPandas(
        gen, schema=NODE_SCHEMA)
