"""Span operators over the interleaved corpus (input_hint shape).

The per-row invariant the whole engine must preserve: the ordered sequence
``(kind, text, media_ref, order-by-offset)`` per ``doc_id`` is unchanged by
any transformation. These operators explode spans for processing and
reassemble them, plus a canonical-fingerprint column used to assert the
invariant (pure Column expressions — codegen, no UDF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) → one row per span with its position preserved.

    ``span_idx`` is the physical array position; ``offset`` is the logical
    order. Both are kept so reassembly is deterministic even under equal
    offsets.
    """
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_spans(flat: DataFrame) -> DataFrame:
    """Inverse of :func:`explode_spans`: order by (offset, span_idx)."""
    return (
        flat.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("offset", "span_idx", "kind", "text", "media_ref")
                )
            ).alias("ordered")
        )
        .select(
            "doc_id",
            F.transform(
                "ordered",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def span_fingerprint() -> Column:
    """Canonical string of the ordered ``spans`` sequence (for invariant
    checks).

    Built with ``array_sort`` on (offset, position) so it is insensitive to
    physical array order but pins the logical sequence. Compared verbatim
    against the DuckDB oracle's ``string_agg`` of the same format.
    """
    col = F.col("spans")
    canon = F.transform(
        F.array_sort(col, lambda a, b: F.when(a["offset"] < b["offset"], -1).when(
            a["offset"] > b["offset"], 1
        ).otherwise(0)),
        lambda s: F.concat_ws(
            ":",
            s["kind"],
            F.coalesce(s["text"], F.lit("")),
            F.coalesce(s["media_ref"], F.lit("")),
            s["offset"].cast("string"),
        ),
    )
    return F.concat_ws("|", canon)


def media_spans(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, media_ref, offset) rows for media-bearing spans —
    the entry edge of every raster pipeline (resolve media_ref → payload)."""
    return explode_spans(docs).filter(F.col("kind") == "media").select(
        "doc_id", "media_ref", "offset"
    )
