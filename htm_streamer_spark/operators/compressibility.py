"""Compression-ratio quality proxy: per-document deflate ratio.

The zlib/deflate ratio of a document's UTF-8 bytes is a standard
one-number redundancy signal for LLM training-data curation (used as a
repetition/boilerplate filter in the Gopher and RefinedWeb pipelines):
machine-generated or template-stitched text compresses far below prose
(ratio << prose band), while already-compressed or random-looking blobs
(base64 dumps, minified bundles) sit near or above 1.0. It catches
redundancy the n-gram operators (``repetition.py``) miss — long-range
structure beyond any fixed n — with one C-library pass per doc.

Spark shape: deflate is not expressible in native expressions, so this
is the legitimate Arrow-batch escape hatch (same tier as the multimodal
decode): one ``mapInArrow`` stage, the text column enters the kernel as
Arrow string buffers, each batch dispatches straight into zlib's C
deflate (the per-row Python loop is pure dispatch — the work is inside
the C call), and only narrow integer/double result columns leave the
stage, so nothing blob-sized ever shuffles. Deterministic for a fixed
zlib build: compressed SIZE is a pure function of (bytes, level,
wbits) — the golden-parquet oracle captures it at the driver scale.

Reference analog: the reference's per-feature scalar encoders
(/root/reference/htm_streamer/data/feature.py:24-41) are likewise
opaque per-row transforms; here the "encoder" is deflate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.operators.dedup import fan_out_narrow_scans

DEFAULT_LEVEL = 6


def deflate_kernel(
    text_field: str,
    level: int = DEFAULT_LEVEL,
    passthrough: tuple[str, ...] = ("doc_id",),
):
    """mapInArrow kernel: (*passthrough, <text_field>) → (*passthrough,
    n_bytes, n_deflate). Raw deflate stream (wbits=-15) so the measured
    size is the compressed DATA, not zlib/gzip container framing — the
    2-byte header + 4-byte adler32 of the default container would bias
    short docs. NULL text → NULL sizes. Closure for by-value pickling."""

    def kernel(batch_iter):
        import zlib

        import pyarrow as pa

        for batch in batch_iter:
            if batch.num_rows == 0:
                continue
            texts = batch.column(batch.schema.get_field_index(text_field))
            n_bytes: list = []
            n_defl: list = []
            for t in texts:
                if not t.is_valid:
                    n_bytes.append(None)
                    n_defl.append(None)
                    continue
                raw = t.as_py().encode("utf-8")
                comp = zlib.compressobj(level, zlib.DEFLATED, -15)
                body = comp.compress(raw) + comp.flush()
                n_bytes.append(len(raw))
                n_defl.append(len(body))
            cols = {
                name: batch.column(batch.schema.get_field_index(name))
                for name in passthrough
            }
            cols["n_bytes"] = pa.array(n_bytes, type=pa.int64())
            cols["n_deflate"] = pa.array(n_defl, type=pa.int64())
            yield pa.record_batch(cols)

    return kernel


def _ratio_col():
    # NULL for NULL or empty text: an empty doc has no redundancy to
    # measure — the ~5-byte empty deflate stream would fabricate a huge
    # ratio.
    return F.when(F.col("n_bytes") > 0, F.col("n_deflate") / F.col("n_bytes"))


def compression_stats(
    df: DataFrame,
    text_col: str = "text",
    level: int = DEFAULT_LEVEL,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *keep_cols, n_bytes, n_deflate, ratio) per document.

    ``ratio`` = deflate bytes / raw UTF-8 bytes. Downstream filters cut
    on the band, e.g. ``ratio < 0.30`` (Gopher-style repetition cut) or
    ``ratio > 0.80`` (binary-ish payload: ~6.6 bits/byte of random
    printable ASCII is the entropy ceiling of plain text, deflating to
    ~0.84 — natural prose sits well below).

    One Arrow stage on the scan output; the blob-sized column never
    reaches a shuffle. ``keep_cols`` (e.g. the source column) ride
    through the kernel so a grouped readout needs no join back against
    the corpus. ``fan_out_narrow_scans`` lifts a few-file layout to full
    parallelism (no-op at real scale where the scan already carries
    ~10^5 splits).
    """
    passthrough = ("doc_id", *keep_cols)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    narrow = fan_out_narrow_scans(df.select(*passthrough, text_col))
    schema = ", ".join(
        [f"{c} {types[c]}" for c in passthrough] + ["n_bytes long", "n_deflate long"]
    )
    sizes = narrow.mapInArrow(
        deflate_kernel(text_col, level, passthrough), schema=schema
    )
    return sizes.select(*passthrough, "n_bytes", "n_deflate", _ratio_col().alias("ratio"))
