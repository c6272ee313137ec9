"""Per-collection XML outline sink (K5 analog).

The reference builds each collection's export by appending ``<item>``
fragments to one in-memory string inside a sequential row loop and
writing a wrapped ``<outline>`` document per collection
(/root/reference/sqltoxml.py:27-42,140-150). That shape — one document
per collection, items in source order, text fields escaped with
``xml.sax.saxutils.escape`` — is re-expressed for Spark:

1. the ``<item>`` fragment is a pure column expression
   (``format_string`` over ``xml_escape_col``-ed fields; use
   ``xml_opt_tag`` for nullable fields — the reference omits the tag
   entirely when a field is null), so fragment rendering is
   distributed and codegen'd;
2. fragments are globally sorted by (collection, ordinal) with
   ``repartitionByRange`` + ``sortWithinPartitions`` and written as
   text partitioned by collection — every part file holds a contiguous
   ordinal range, so lexicographic part-file order IS document order;
3. a driver-side stitch concatenates each collection's part files
   between the XML header and ``</outline>`` footer into a tmp file
   and swaps it into place (sources/fs.py), all through the Hadoop
   FileSystem API, so it works for any supported scheme (file://,
   hdfs://, s3a://), one part file in memory at a time, and a crash
   never leaves a truncated ``.xml``.

The text datasource is line-oriented, so fragments must reach it
newline-free. Raw ``\\n``/``\\r`` in TEXT CONTENT are rewritten to the
character references ``&#10;``/``&#13;`` before the write — a parser
round-trips them back to the original bytes, unlike the previous
line-strip which silently deleted them. MARKUP (the fragment template
itself) must therefore be single-line: a newline inside a tag would
also be rewritten and yield malformed XML.

A single XML document is inherently one serial byte stream, so step 3
is the irreducible sequential tail; everything upstream of it (the
expensive part: joins, escaping, formatting, sorting) scales with the
cluster. At 100 TB you would keep the partitioned fragment directory
as the queryable artifact (``stitch=False``) and stitch only the
collections that need a literal ``.xml`` file.
"""

from __future__ import annotations

import posixpath
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fs import fs_for, ls, swap_in

XML_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?><outline>'
    "<name>rKTs</name><note>exported from SQL</note>"
)
XML_FOOTER = "</outline>"


def xml_opt_tag(tag: str, escaped: Column) -> Column:
    """``<tag>value</tag>`` or the empty string when the value is null
    — the reference's omit-tag-when-null convention
    (/root/reference/sqltoxml.py:29-38, conditional appends). The
    input must already be escaped (``xml_escape_col``). Explicit
    null branch: ``format_string`` renders null arguments as the text
    "null" rather than propagating null."""
    return F.when(escaped.isNull(), F.lit("")).otherwise(
        F.concat(F.lit(f"<{tag}>"), escaped, F.lit(f"</{tag}>"))
    )


def write_xml_outline(
    df: DataFrame,
    coll_col: str,
    item_col: Column,
    order_cols: list[str],
    out_dir: str,
    header: str = XML_HEADER,
    footer: str = XML_FOOTER,
    stitch: bool = True,
) -> dict[str, str]:
    """Write one ``<outline>`` XML document per distinct ``coll_col``
    value under ``out_dir`` (``<coll>.xml``), items ordered by
    ``order_cols`` within each collection. ``item_col`` must already
    be the rendered fragment (see module docstring); a null fragment
    (e.g. a null field fed through ``format_string`` instead of
    ``xml_opt_tag``) fails the job with an explicit error rather than
    corrupting the export. Returns {collection: path} keyed by the RAW
    collection value (partition-dir percent-escaping is undone). With
    ``stitch=False`` only the partitioned fragment directory is
    produced (the scale path)."""
    frag_dir = posixpath.join(out_dir, "_fragments")
    checked = F.when(
        item_col.isNull(),
        F.raise_error(F.lit(
            "write_xml_outline: null fragment — wrap nullable fields "
            "in xml_opt_tag/coalesce before rendering"
        )),
    ).otherwise(item_col)
    # text datasource is line-oriented: content newlines become
    # character references (round-trip-safe), CR included
    newline_safe = F.replace(
        F.replace(checked, F.lit("\r"), F.lit("&#13;")),
        F.lit("\n"), F.lit("&#10;"),
    )
    (
        df.select(
            F.col(coll_col).alias("coll"),
            *[F.col(c) for c in order_cols],
            newline_safe.alias("value"),
        )
        .repartitionByRange("coll", *order_cols)
        .sortWithinPartitions("coll", *order_cols)
        .select("coll", "value")
        .write.mode("overwrite")
        .partitionBy("coll")
        .text(frag_dir)
    )
    if not stitch:
        return {}

    spark = df.sparkSession
    to_bytes = spark._jvm.org.apache.commons.io.IOUtils.toByteArray
    out: dict[str, str] = {}
    for entry, _, _ in ls(spark, frag_dir, "coll="):
        # Spark percent-escapes partition values in dir names
        # (spaces, '=', '/', ...); undo it so dict keys and file
        # names carry the raw collection value
        coll = unquote(entry.split("=", 1)[1])
        # raw value is the dict key; the FILE name keeps '/' escaped
        # (a raw slash would nest directories)
        dst = posixpath.join(out_dir, f"{coll.replace('/', '%2F')}.xml")
        fs, tmp = fs_for(spark, f"{dst}._tmp")
        w = fs.create(tmp, True)
        try:
            w.write(bytearray(header.encode("utf-8")))
            for part, _, _ in ls(spark, f"{frag_dir}/{entry}", "part-"):
                r = fs.open(fs_for(spark, f"{frag_dir}/{entry}/{part}")[1])
                try:
                    # one part file at a time; fragments are
                    # newline-free by construction, so dropping the
                    # line terminators is lossless
                    data = bytes(to_bytes(r))
                finally:
                    r.close()
                w.write(bytearray(data.replace(b"\n", b"")))
            w.write(bytearray(footer.encode("utf-8")))
        finally:
            w.close()
        swap_in(spark, f"{dst}._tmp", dst)
        out[coll] = dst
    return out
