"""Job inputs: the reference's MapReduceJobInputs factory, Spark-first.

Reference formats (``.../tools/framework/JobInputSpec.java:52-68``):
``avro, avrokv, htable, seq, small-text-files, text, kiji, xml``. Each maps
to a Spark reader:

- text             -> ``spark.read.text`` (one row per line)
- small-text-files -> ``spark.read.format("binaryFile")`` (whole file per
                      row; files never split; Spark coalesces small files
                      via openCostInBytes — replaces the vendored
                      CombineFileInputFormat)
- seq              -> ``sc.sequenceFile`` lifted to a DataFrame
- avro / avrokv    -> spark-avro jar when present, else the pure-Python
                      container codec (``avro_io.py`` / ``avro_codec.py``)
                      parallelized across files with mapInPandas
- xml              -> split-capable record chunker (closing tag as text
                      lineSep; Hadoop's split-spanning line reader does
                      the boundary stitching ``XMLInputFormat.java:55-66``
                      hand-rolled; records are <tag>...</tag> spans)
- kiji (table)     -> ``read_parquet(spark, table_path)`` + DataRequest
- csv              -> bonus (the reference parsed CSV inside importers)
- warc             -> bonus beyond the reference: web-archive records
                      (ISO 28500, the Common Crawl layout) parsed per
                      file from ``binaryFile`` rows (``read_warc_records``)
- tar / zip        -> bonus: dataset-shard archive members as rows
                      (``read_archive_members``; tar streams members
                      O(member) incl. .tar.{gz,bz2,xz})
- webdataset       -> bonus: WebDataset-convention tar shards grouped
                      into sample rows (key + map<extension, bytes>)
                      — the layout multimodal training corpora ship in
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from kiji_mapreduce_spark.request import DataRequest

_SUMMARY_FILES = ("_common_metadata", "_metadata")


def read_parquet(spark: SparkSession, path, schema=None,
                 options: dict | None = None) -> DataFrame:
    """Open a parquet path without running a Spark job. The package's
    one way to open parquet.

    ``spark.read.parquet`` infers the schema with a Spark job that reads
    a footer. Here the schema comes from elsewhere:

    - ``schema`` given (e.g. an entity table's layout): no footer is read.
    - otherwise one footer is read on the driver, through Spark's own
      footer reader and Parquet-to-Spark converter with the session
      conf (``nanosAsLong``, ``binaryAsString`` and int96 as in
      inference). Spark's order for a non-merged inference picks the
      footer: ``_common_metadata``, then ``_metadata``, then the first
      data file in path order.

    Either way partition columns (``_bucket=``, ``_batch=``) still come
    from Spark's directory discovery. A path with no footer (empty,
    missing, a glob), several paths, reader ``options`` or
    ``spark.sql.parquet.mergeSchema`` keep Spark's own inference, so
    they fail or merge exactly as ``spark.read.parquet`` does.
    """
    paths = [path] if isinstance(path, str) else list(path)
    reader = spark.read.options(**options) if options else spark.read
    if schema is None and not options and len(paths) == 1:
        schema = _footer_schema(spark, paths[0])
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _footer_schema(spark: SparkSession, path: str):
    """The data schema Spark's non-merged inference would give ``path``,
    read from one footer on the driver; None when inference must run."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql.types import _parse_datatype_json_string

    if any(c in path for c in "*?[{") or spark.conf.get(
            "spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    footer = _footer_file(spark, path)
    if footer is None:
        return None
    jvm, jsession = spark._jvm, spark._jsparkSession
    conf = jsession.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(footer)
    parquet = getattr(jvm.org.apache.spark.sql.execution.datasources.parquet,
                      "ParquetFileFormat$").__getattr__("MODULE$")
    ignore_corrupt = spark.conf.get(
        "spark.sql.files.ignoreCorruptFiles", "false").lower() == "true"
    try:
        status = hpath.getFileSystem(conf).getFileStatus(hpath)
        footers = parquet.readParquetFootersInParallel(
            conf, jvm.PythonUtils.toSeq([status]), ignore_corrupt)
        found = parquet.readSchema(footers, jsession)
    except Py4JJavaError:
        return None  # unreadable footer: inference raises Spark's error
    return (_parse_datatype_json_string(found.get().json())
            if found.isDefined() else None)


def _footer_file(spark: SparkSession, path: str) -> str | None:
    """The file whose footer Spark's non-merged parquet inference reads
    (``ParquetUtils.inferSchema``), listed with the file index's name
    filter: ``_``/``.`` names are hidden except partition directories
    and the summary files. None when ``path`` holds no such file."""
    from kiji_mapreduce_spark.io.outputs import (
        _hadoop_fs, _is_local_path, _strip_file_scheme,
    )

    if _is_local_path(path):
        root = os.path.abspath(_strip_file_scheme(path))
        if not os.path.isdir(root):
            return "file://" + root if os.path.isfile(root) else None

        def children(d):
            return [(e.path, e.name, e.is_dir()) for e in os.scandir(d)]
    else:
        fs, hroot, HPath = _hadoop_fs(path, spark)
        if not fs.exists(hroot):
            return None
        if fs.getFileStatus(hroot).isFile():
            return path
        root = hroot.toString()

        def children(d):
            return [(st.getPath().toString(), st.getPath().getName(),
                     st.isDirectory()) for st in fs.listStatus(HPath(d))]

    files, dirs = [], [root]
    while dirs:
        for full, name, is_dir in children(dirs.pop()):
            hidden = ((name.startswith("_") and "=" not in name)
                      or name.startswith(".") or name.endswith("._COPYING_"))
            if hidden and not name.startswith(_SUMMARY_FILES):
                continue
            (dirs if is_dir else files).append(full)
    if not files:
        return None

    def rank(f):
        name = f.rsplit("/", 1)[-1]
        return (_SUMMARY_FILES.index(name) if name in _SUMMARY_FILES
                else len(_SUMMARY_FILES), f)

    found = min(files, key=rank)
    return "file://" + found if _is_local_path(path) else found


@dataclass
class JobInput:
    """Declarative input spec: ``format`` + paths/options."""

    format: str
    paths: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)
    data_request: DataRequest | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        fmt = self.format
        if fmt == "text":
            return spark.read.text(self.paths)
        if fmt in ("small-text-files", "wholefile"):
            # one row per entire file; binaryFile never splits a file.
            # make_valid_utf8 over a binary->string cast, NOT F.decode:
            # under Spark 4 ANSI defaults decode ABORTS the whole read
            # on the first non-UTF-8 file — one Latin-1 straggler in a
            # corpus must degrade to U+FFFD, not kill the job (r13
            # review finding; the crawl/text readers already do this)
            df = spark.read.format("binaryFile").load(self.paths)
            return df.select(
                F.col("path"),
                F.make_valid_utf8(
                    F.col("content").cast("string")).alias("text"),
            )
        if fmt == "seq":
            rdd = spark.sparkContext.sequenceFile(",".join(self.paths))
            return spark.createDataFrame(rdd, ["key", "value"])
        if fmt in ("avro", "avrokv"):
            from kiji_mapreduce_spark.io.avro_io import read_avro

            return read_avro(spark, self.paths, self.options)
        if fmt == "xml":
            opts = self.options
            return _read_xml_records(
                spark, self.paths,
                opts.get("rowTag",
                         opts.get("kiji.input.xml.record.tag", "record")),
                header=opts.get("header",
                                opts.get("kiji.input.xml.header", "")),
                max_record_bytes=int(
                    opts.get("overrunAllowance",
                             opts.get("kiji.input.xml.overrun.allowance",
                                      0)) or 0),
            )
        if fmt in ("kiji", "table", "parquet"):
            df = read_parquet(spark, self.paths, options=self.options)
            return self.data_request.apply(df) if self.data_request else df
        if fmt == "csv":
            return spark.read.options(**self.options).csv(self.paths)
        if fmt == "json":
            return spark.read.options(**self.options).json(self.paths)
        if fmt == "warc":
            return read_warc_records(
                spark, self.paths,
                lenient=self.options.get("lenient", "") == "true")
        if fmt in ("tar", "zip"):
            return read_archive_members(
                spark, self.paths, archive_format=fmt,
                lenient=self.options.get("lenient", "") == "true")
        if fmt == "webdataset":
            return read_webdataset(
                spark, self.paths,
                lenient=self.options.get("lenient", "") == "true")
        if fmt == "cdx":
            idx = read_cdx(spark, self.paths)
            # fetch=records turns the index into the records it points
            # at — the index-first 100 TB read path: filter options
            # (status/mime) prune BEFORE any WARC byte moves, then only
            # the surviving (filename, offset, length) ranges are read.
            # warc_base= prefixes the index's relative filenames.
            if self.options.get("fetch") == "records":
                if self.options.get("status"):
                    idx = idx.filter(
                        F.col("status")
                        == int(self.options["status"]))
                if self.options.get("mime"):
                    idx = idx.filter(
                        F.col("mime") == self.options["mime"])
                return warc_records_from_ranges(
                    idx, base=self.options.get("warc_base", ""),
                    lenient=self.options.get("lenient", "") == "true")
            return idx
        raise ValueError(f"unknown input format {self.format!r}")


def job_input(spec: str) -> JobInput:
    """Parse the reference CLI spec string: ``"format=text file=/a,/b"``
    (``JobInputSpec.java:52-68``)."""
    parts = dict(p.split("=", 1) for p in spec.split() if "=" in p)
    if "format" not in parts:
        raise ValueError(f"input spec needs format=...: {spec!r}")
    # table= is the reference's spelling for kiji table inputs
    # (JobInputSpec accepts it and job_output mirrors it) — treat it as
    # the path rather than an opaque option (a kiji spec using table=
    # used to crash with IndexError on empty paths — r5 review finding)
    raw_paths = parts.get("file", "") or parts.get("table", "")
    paths = [p for p in raw_paths.split(",") if p]
    options = {k: v for k, v in parts.items()
               if k not in ("format", "file", "table")}
    return JobInput(format=parts["format"], paths=paths, options=options)


def _read_xml_records(spark: SparkSession, paths: list[str], row_tag: str,
                      header: str = "",
                      max_record_bytes: int = 0) -> DataFrame:
    """XML record scanner: one ``<row_tag>...</row_tag>`` span per row —
    split-capable, so one multi-GB XML file parallelizes.

    The reference scans for the record tag across split boundaries with a
    bounded overrun (``XMLInputFormat.java:55-66``). The Spark-first
    equivalent: read with the closing tag as the text line separator —
    Hadoop's line reader already splits files at arbitrary byte offsets
    and stitches separator-spanning records across split boundaries,
    which IS the reference's chunking discipline, battle-tested. Each
    resulting row is ``[inter-record bytes] <row_tag ...> content``; the
    record is recovered by trimming to the first record-open tag and
    re-appending the consumed closing tag. Segments with no record-open
    tag (prolog, root close) drop out.

    Same scoping rules as the reference's byte scanner: records must not
    nest the row tag inside itself, and tags inside CDATA/comments are
    not special-cased.

    ``header`` mirrors ``kiji.input.xml.header`` (``XMLInputFormat.java:
    62,358``): prepended to every record so each row is a standalone XML
    document (the reference defaults to the XML 1.0 declaration; here the
    default is empty because Spark's XML functions don't need it).

    ``max_record_bytes`` mirrors ``kiji.input.xml.overrun.allowance``
    (``XMLInputFormat.java:65,324-351``): the reference abandons a record
    whose closing tag is not found within the allowance past the split
    end — the guard against an unclosed tag swallowing the rest of a
    multi-GB file. The separator chunker's equivalent pathology is one
    monster segment stretching to the next closing tag (or EOF), so the
    guard is a per-record byte cap: longer records are dropped, matching
    the reference's drop-and-continue behavior. 0 = unbounded.
    """
    import re as _re

    close = f"</{row_tag}>"
    raw = spark.read.option("lineSep", close).text(list(paths))
    # match both <tag>...</tag> and attributed <tag a="b">...</tag>;
    # [\s>] keeps <item> from matching <items>. The tag is escaped:
    # XML names may contain regex metacharacters like '.' and the
    # lineSep above is LITERAL, so an unescaped pattern could match
    # different spans than the chunker split on (r5 review finding)
    rec = F.regexp_extract(
        F.col("value"), f"(?s)<{_re.escape(row_tag)}[\\s>].*$", 0)
    out = (raw.select(rec.alias("_rec"))
           .filter(F.col("_rec") != "")
           .select(F.concat(F.col("_rec"), F.lit(close)).alias("xml")))
    if max_record_bytes:
        # exact per-record bound, applied after extraction so preceding
        # inter-record bytes in the segment never count against a record
        out = out.filter(F.octet_length("xml") <= max_record_bytes)
    if header:
        out = out.select(F.concat(F.lit(header), F.col("xml")).alias("xml"))
    return out


def _inflate_members(raw: bytes, path: str, lenient: bool):
    """Yield decompressed chunks across a concatenation of gzip
    members (the Common Crawl per-record-member layout).

    Chunk-fed memoryview decompression: both ``raw[pos:]`` slices AND
    decompressobj's ``unused_data`` tail-copy would memcpy the
    remainder once per member — O(members x file_size) on a 1 GB
    segment. Feeding bounded chunks caps the per-member overshoot (the
    only bytes ``unused_data`` copies) at one chunk.

    Strict mode raises on a corrupt member AND on a truncated final
    member — even one that produced no output, which the pre-r8 code
    silently dropped (ADVICE r7): a ``.warc.gz`` cut at a member
    boundary otherwise parses clean with records missing, exactly the
    data loss ``lenient`` exists to opt into.
    """
    import zlib

    mv = memoryview(raw)
    step = 1 << 20
    pos = 0
    while pos < len(raw):
        d = zlib.decompressobj(wbits=47)  # auto-detect gzip member
        try:
            while not d.eof and pos < len(raw):
                chunk = mv[pos:pos + step]
                out = d.decompress(chunk)
                if out:
                    yield out
                pos += len(chunk)
        except zlib.error as e:
            # corrupt member / non-gzip tail: the lenient contract
            # covers DAMAGED archives, not just damaged framing
            if lenient:
                return
            raise ValueError(
                f"{path}: corrupt gzip member near byte {pos}: {e}"
            ) from e
        if not d.eof:
            # truncated final member: keep what decompressed (lenient)
            if lenient:
                return
            raise ValueError(
                f"{path}: truncated gzip member at byte {pos}")
        pos -= len(d.unused_data)  # overshoot into the next member


def _zst_data_frames(raw: bytes, where: str):
    """Yield ``(offset, compressed_length, decompressed bytes)`` per
    zstd DATA frame — the single decode loop under BOTH the
    ``.warc.zst`` read path and the CDX member walk, so the two can
    never disagree on which frames of an archive decode (the
    lenient-prefix read/index agreement contract). Skippable frames
    are passed over. Gates: 256 MiB compressed input (checked BEFORE
    the walk, reported as the over-limit condition it is — not
    corruption), ``_MAX_RANGE_OUT`` per frame (the gzip member
    ceiling), and ``_MAX_ZSTD_ARCHIVE_OUT`` CUMULATIVE across frames —
    frame-by-frame decode must not turn the old archive-level bomb
    gate into an unbounded sum of under-the-cap frames."""
    from kiji_mapreduce_spark.io import zstd_codec

    if len(raw) > _MAX_ZSTD_ARCHIVE_BYTES:
        raise ValueError(
            f"{where}: .warc.zst over the "
            f"{_MAX_ZSTD_ARCHIVE_BYTES >> 20} MiB pure-Python "
            "decode gate — recompress as .warc.gz or split")
    total = 0
    try:
        for start, end, skippable in zstd_codec.frame_spans(
                raw, max_input=_MAX_ZSTD_ARCHIVE_BYTES):
            if skippable:
                continue
            budget = min(_MAX_RANGE_OUT,
                         _MAX_ZSTD_ARCHIVE_OUT - total)
            data = zstd_codec.decompress(
                raw[start:end], max_output=budget,
                max_input=_MAX_ZSTD_ARCHIVE_BYTES)
            total += len(data)
            yield start, end - start, data
    except ValueError as e:
        raise ValueError(f"{where}: corrupt zstd WARC: {e}") from e


def _inflate_zst_frames(raw: bytes, path: str, lenient: bool):
    """Yield decompressed chunks across the zstd frames of a
    ``.warc.zst`` — the zstd twin of ``_inflate_members``: frame
    boundaries come from the header-only ``frame_spans`` walk, each
    data frame decodes independently (RFC 8878 frames are
    self-contained), and decoded bytes re-slice into bounded 1 MiB
    chunks so the record framer's rolling buffer never doubles on one
    huge frame (the r8 O(record + chunk) contract). Lenient keeps
    everything decoded before the first truncated/corrupt/dictionary
    frame — the same parsed-prefix contract as the gzip path and the
    CDX member walk (which shares ``_zst_data_frames``, gates
    included, so read and index agree on every archive); strict
    raises ValueError."""
    step = 1 << 20
    try:
        for _off, _ln, data in _zst_data_frames(raw, path):
            mv = memoryview(data)
            for i in range(0, len(data), step):
                yield mv[i:i + step]
    except ValueError:
        if lenient:
            return
        raise


#: header-block ceiling for the incremental WARC framer: real WARC
#: headers are a few hundred bytes; a WARC/-prefixed stream with no
#: CRLF CRLF must not buffer the whole archive hunting for one
_MAX_WARC_HEADER = 1 << 20


def _frame_warc_records(chunks, path: str, lenient: bool):
    """Frame WARC records incrementally from an iterator of byte
    chunks: per-record memory is O(record + chunk), never O(archive).

    Minimal, dependency-free reader for the public WARC format (ISO
    28500 / the Common Crawl layout): each record is a ``WARC/1.x``
    version line, CRLF headers, an empty line, a ``Content-Length``-
    framed body, and a CRLF CRLF trailer. Records are carved off the
    head of a rolling buffer that is trimmed after every record, so a
    multi-GB decompressed archive never materializes (r7 verdict
    ask #7). Malformed framing raises with the buffer offset;
    ``lenient`` stops at the first bad record instead (keeping
    everything parsed so far) — crawl archives do truncate."""
    chunks = iter(chunks)
    buf = bytearray()
    exhausted = False
    consumed = 0  # bytes trimmed off buf so far (for error offsets)
    record_no = 0

    def _fill(need: int) -> bool:
        """Grow buf to >= need bytes; False once the source is dry."""
        nonlocal exhausted
        while len(buf) < need and not exhausted:
            nxt = next(chunks, None)
            if nxt is None:
                exhausted = True
            else:
                buf.extend(nxt)
        return len(buf) >= need

    while True:
        # tolerate inter-record padding
        pos = 0
        while _fill(pos + 2) and buf[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos:
            del buf[:pos]
            consumed += pos
        if not _fill(1):
            return  # clean end of archive
        # cheap reject BEFORE buffering: a stream that is not WARC at
        # this offset must not grow buf to O(archive) hunting for a
        # CRLF CRLF that never comes (r13 review finding)
        _fill(5)
        if not buf.startswith(b"WARC/"[:min(5, len(buf))]):
            if lenient:
                return
            raise ValueError(
                f"{path}: malformed WARC record header at byte "
                f"{consumed}")
        # header: everything up to the first CRLF CRLF. The find
        # resumes where the last attempt left off (no O(n^2) rescans)
        # and the header is capped — a WARC/-prefixed garbage stream
        # must not hold the whole archive resident either.
        header_end = -1
        search_from = 0
        while True:
            header_end = buf.find(b"\r\n\r\n", search_from)
            if header_end >= 0 or exhausted:
                break
            search_from = max(0, len(buf) - 3)
            if len(buf) > _MAX_WARC_HEADER:
                break
            _fill(len(buf) + 1)
        if not buf.startswith(b"WARC/") or header_end < 0:
            if lenient:
                return
            raise ValueError(
                f"{path}: malformed WARC record header at byte "
                f"{consumed}")
        headers = {}
        for line in bytes(buf[:header_end]).split(b"\r\n")[1:]:
            name, _, value = line.partition(b":")
            headers[name.strip().lower()] = value.strip()
        try:
            length = int(headers[b"content-length"])
        except (KeyError, ValueError):
            if lenient:
                return
            raise ValueError(
                f"{path}: WARC record at byte {consumed} has no valid "
                "Content-Length") from None
        if length < 0:
            # a crafted negative length (== -(header+trailer)) makes
            # the post-record trim delete ZERO bytes and the framer
            # re-parse the same record forever (r13 review finding:
            # reproduced infinite record stream); any other negative
            # silently desyncs framing. _walk_plain_records has the
            # same guard.
            if lenient:
                return
            raise ValueError(
                f"{path}: WARC record at byte {consumed} has negative "
                f"Content-Length {length}")
        body_start = header_end + 4
        if not _fill(body_start + length):
            if lenient:
                return
            raise ValueError(
                f"{path}: WARC record at byte {consumed} truncated "
                f"({len(buf) - body_start} of {length} body bytes)")
        yield (
            record_no,
            headers.get(b"warc-type", b"").decode("utf-8", "replace"),
            headers.get(b"warc-target-uri", b"").decode("utf-8",
                                                        "replace"),
            headers.get(b"warc-date", b"").decode("utf-8", "replace"),
            headers.get(b"warc-record-id", b"").decode("utf-8",
                                                       "replace"),
            length,
            bytes(buf[body_start:body_start + length]),
        )
        record_no += 1
        del buf[:body_start + length]
        consumed += body_start + length


def _parse_warc(raw: bytes, path: str, lenient: bool):
    """Yield (record_no, warc_type, target_uri, warc_date, record_id,
    content_length, content) tuples from one WARC file's bytes —
    gzip-member archives are inflated chunk-by-chunk straight into the
    incremental record framer, so only the compressed blob plus one
    record are ever resident."""
    if raw[:2] == b"\x1f\x8b":
        chunks = _inflate_members(raw, path, lenient)
    elif _zstd_magic(raw):
        # .warc.zst (newer archive tooling ships these; _zstd_magic
        # also admits a leading skippable frame): decode FRAME BY
        # FRAME via frame_spans + the pure-Python RFC 8878 decoder
        # under the same compressed/decompressed gates as .tar.zst
        # shards — memory is O(frame + record), and lenient keeps the
        # parsed prefix when a later frame is truncated or corrupt
        # (the gzip-member contract; the index path's member walk
        # keeps the same prefix, so read and index agree). A
        # whole-archive single frame still decodes — it is just one
        # big "member". Dictionary frames fail that frame's decode
        # loudly: strict raises, lenient keeps the frames before it.
        chunks = _inflate_zst_frames(raw, path, lenient)
    else:
        # bounded memoryview slices, NOT one whole-archive chunk: the
        # framer copies every chunk into its rolling buffer, so a
        # single raw-sized chunk would double per-task memory exactly
        # where the O(record + chunk) claim lives (r8 review finding)
        mv = memoryview(raw)
        chunks = (mv[i:i + (1 << 20)]
                  for i in range(0, len(raw), 1 << 20))
    yield from _frame_warc_records(chunks, path, lenient)


#: ceiling on a single HTTP body's DECODED size — deflate ratios reach
#: ~1000x, so without a cap one gzip-bomb "page" materializes gigabytes
#: in a single call and OOMs the task that owns the whole archive,
#: breaking the parser's O(record + chunk) per-task memory contract
_MAX_INFLATE = 1 << 28

#: compressed-size gate for zstd HTTP bodies: the pure-Python decoder
#: is a lenient fallback (~4 MB/s worst case), so a body this large is
#: left encoded for the crawl gate to reject-and-count rather than
#: stalling an executor task; real pages sit far below it
_MAX_ZSTD_BODY = 8 << 20


def _inflate_http_body(data: bytes, wbits: int):
    """Fully inflate an HTTP body, looping over concatenated gzip
    members (servers that flush compressed output incrementally emit
    several members per body — valid gzip that a single
    ``zlib.decompress`` call silently truncates to the first member),
    with a hard output ceiling of ``_MAX_INFLATE``. Returns None on
    corrupt input, truncation, or a ceiling breach — the caller passes
    the payload through untouched."""
    import zlib

    out = bytearray()
    rest = data
    while rest:
        d = zlib.decompressobj(wbits)
        try:
            out += d.decompress(rest, _MAX_INFLATE + 1 - len(out))
        except zlib.error:
            return None
        if len(out) > _MAX_INFLATE:
            return None  # bomb: refuse to materialize more
        if not d.eof:
            return None  # truncated member
        rest = d.unused_data
        if wbits != 47 or not rest.startswith(b"\x1f\x8b"):
            break  # deflate is one stream; non-member tail is junk
    return bytes(out)


def _decode_http_payload(body: bytes) -> bytes:
    """Normalize an HTTP-response WARC payload to identity encoding:
    de-chunk ``Transfer-Encoding: chunked`` framing and inflate
    ``Content-Encoding: gzip/x-gzip/deflate`` bodies, dropping the
    now-stale encoding + Content-Length headers. Crawls store responses
    AS CAPTURED, so without this the downstream Catalyst text extractor
    would strip tags out of gzip bytes and emit garbage.

    Lenient by construction: non-HTTP payloads, identity responses, and
    anything that fails to de-chunk/inflate pass through UNTOUCHED —
    one weird page must never abort (or silently empty) a crawl ingest.
    Runs inside the WARC parser's mapInPandas, where the bytes already
    live in Python — zero extra passes or Arrow crossings, and
    ``http_html_text`` stays pure-Catalyst.
    """
    import re

    if not body.startswith(b"HTTP/"):
        return body
    sep = body.find(b"\r\n\r\n")
    if sep < 0:
        return body
    headers = body[:sep]
    payload = body[sep + 4:]
    chunked = re.search(
        rb"(?im)^transfer-encoding:\s*chunked\s*$", headers)
    enc = re.search(
        rb"(?im)^content-encoding:\s*(gzip|x-gzip|deflate|zstd|br)"
        rb"\s*$", headers)
    if not chunked and not enc:
        return body
    decoded = payload
    if chunked:
        out = bytearray()
        pos = 0
        while True:
            eol = decoded.find(b"\r\n", pos)
            if eol < 0:
                return body  # malformed framing: pass through
            size_tok = decoded[pos:eol].split(b";", 1)[0].strip()
            # strict hex only: int(tok, 16) also accepts b"-6", whose
            # negative slice bounds would move pos BACKWARDS and spin
            # this loop forever while `out` grows without bound
            if not re.fullmatch(rb"[0-9A-Fa-f]{1,16}", size_tok):
                return body
            size = int(size_tok, 16)
            if size == 0:
                break  # terminal chunk (trailers ignored)
            start = eol + 2
            if start + size > len(decoded):
                return body  # truncated chunk
            out += decoded[start:start + size]
            pos = start + size + 2  # skip chunk-data CRLF
        decoded = bytes(out)
    if enc:
        coding = enc.group(1).lower()
        if coding in (b"gzip", b"x-gzip"):
            inflated = _inflate_http_body(decoded, wbits=47)
        elif coding == b"br":
            # system-libbrotlidec path (io.brotli_codec): the format's
            # static dictionary is data, not derivable spec, so there
            # is no from-scratch fallback — without the library the
            # body passes through and the crawl's still-encoded gate
            # rejects-and-counts it exactly as before
            from kiji_mapreduce_spark.io import brotli_codec

            inflated = None
            if brotli_codec.available():
                try:
                    inflated = brotli_codec.decompress(
                        decoded, max_output=_MAX_INFLATE)
                except ValueError:
                    inflated = None
        elif coding == b"zstd":
            # pure-Python frame decoder (RFC 8878, io.zstd_codec) —
            # worst-case ~4 MB/s of output, so bound the COMPRESSED
            # input too: an oversized zstd body passes through and the
            # still-encoded gate rejects-and-counts it instead of one
            # record stalling its task for minutes
            if len(decoded) > _MAX_ZSTD_BODY:
                return body
            from kiji_mapreduce_spark.io import zstd_codec

            try:
                inflated = zstd_codec.decompress(
                    decoded, max_output=_MAX_INFLATE)
            except ValueError:
                inflated = None
        else:  # deflate: zlib-wrapped per RFC, raw in the wild
            inflated = _inflate_http_body(decoded, wbits=15)
            if inflated is None:
                inflated = _inflate_http_body(decoded, wbits=-15)
        if inflated is None:
            return body
        decoded = inflated
    kept = [ln for ln in headers.split(b"\r\n")
            if not re.match(rb"(?i)^(transfer-encoding|content-encoding"
                            rb"|content-length):", ln)]
    return b"\r\n".join(kept) + b"\r\n\r\n" + decoded


def read_warc_records(spark: SparkSession, paths: list[str],
                      lenient: bool = False,
                      decode_http: bool = True) -> DataFrame:
    """WARC web-archive records as rows — the format crawl corpora
    (Common Crawl) actually ship in: (path, record_no, warc_type,
    target_uri, warc_date, record_id, content_length, content binary).

    Scale shape: WARC files are NOT splittable without an external
    index (records are length-framed, .gz variants are gzip-member
    streams), so the unit of parallelism is the FILE — exactly how
    crawl corpora are laid out (thousands of ~1 GB segments).
    ``binaryFile`` never splits, one task parses one archive, and only
    the framed records leave the parser; body payloads stay binary
    (HTTP headers + content) for downstream extractors to decode.

    ``decode_http`` (default on) normalizes HTTP response payloads to
    identity encoding (see ``_decode_http_payload``): crawls capture
    chunked/gzipped responses verbatim, and tag-stripping gzip bytes
    yields garbage text. ``content_length`` stays the RECORD's original
    framed length (the WARC-side fact); ``content`` holds the
    normalized payload.
    """
    files = spark.read.format("binaryFile").load(paths)
    return warc_records_from_files(files, lenient=lenient,
                                   decode_http=decode_http)


#: binaryFile source schema — needed explicitly for readStream (file
#: stream sources don't infer), identical to the batch reader's
BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                      "length long, content binary")


def warc_records_from_files(files: DataFrame, lenient: bool = False,
                            decode_http: bool = True) -> DataFrame:
    """The parser half of ``read_warc_records``, over an existing
    (path, content) DataFrame — shared by the batch reader and the
    streaming crawl ingest (whose micro-batches arrive as binaryFile
    rows from ``readStream``)."""
    import pandas as pd

    schema = ("path string, record_no int, warc_type string, "
              "target_uri string, warc_date string, record_id string, "
              "content_length long, content binary")

    cols = ("path", "record_no", "warc_type", "target_uri",
            "warc_date", "record_id", "content_length", "content")

    def _records(batches):
        for pdf in batches:
            # one yield PER ARCHIVE, not per Arrow batch: binaryFile
            # packs whole files as rows, so a batch-wide accumulator
            # would hold several decompressed multi-GB archives (plus
            # their compressed blobs) in memory at once
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = {k: [] for k in cols}
                for rec in _parse_warc(bytes(content), path, lenient):
                    if decode_http:
                        rec = rec[:-1] + (_decode_http_payload(rec[-1]),)
                    rows["path"].append(path)
                    for key, val in zip(cols[1:], rec):
                        rows[key].append(val)
                yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_records, schema)


#: per-archive decompressed-member ceiling (4 GiB): a small .tar.gz
#: or .zip declaring absurd expansion must fail loudly (strict) or
#: stop with what parsed (lenient) before the owning executor OOMs —
#: the archive-layer twin of the media codecs' decoded-bytes gates
_MAX_ARCHIVE_MEMBER_BYTES = 4 << 30


#: compressed-size gate for .tar.zst shards: the pure-Python decoder
#: runs ~5 MB/s on text-like payloads, so a shard this large would
#: stall its task for tens of minutes — reject loudly (strict) / skip
#: (lenient) and let the operator recompress; gz/bz2/xz shards stream
#: at C speed with no such gate
_MAX_ZSTD_ARCHIVE_BYTES = 256 << 20

#: .tar.zst decompressed ceiling: the member budget plus headroom for
#: tar structure (512 B header + padding per member), so members
#: summing to just under the budget don't fail where the identical
#: .tar.gz passes (review finding r12)
_MAX_ZSTD_ARCHIVE_OUT = _MAX_ARCHIVE_MEMBER_BYTES + (64 << 20)


def _iter_tar_members(blob: bytes, path: str, lenient: bool):
    """Yield (member_path, size, content) for regular-file members of
    a tar (plain or gz/bz2/xz — ``r|*`` streams members one at a
    time, O(member) memory, which is why tar is the shape multimodal
    training shards ship in).

    ``.tar.zst`` (the WebDataset/HF-datasets favorite) is handled by
    inflating the zstd frames first via the pure-Python ``zstd_codec``
    (tarfile's ``r|*`` sniffs only gz/bz2/xz): O(archive) memory and
    ~5 MB/s for that one compression, so its compressed size is gated
    at ``_MAX_ZSTD_ARCHIVE_BYTES``.

    The corrupt-data except tuple wraps ONLY tarfile/zstd internals
    (open, member step, extract) — a TypeError from our own code must
    surface, not silently empty every shard corpus-wide (review
    finding r12). TypeError is in the tuple because CPython's tarfile
    stream reader does ``ord(self.__read(1))`` while parsing the gzip
    header and ``__read`` returns b"" at EOF, so a blob cut inside the
    first 3 header bytes surfaces as TypeError, not TarError.

    Caveat: a cut landing exactly on a 512-byte header boundary is
    indistinguishable from a tar written without its end-of-archive
    marker, which tarfile (and GNU tar) tolerate — only mid-data
    truncation is detectable."""
    import io as _io
    import tarfile
    import zlib

    # zlib.error: a .tar.gz whose gzip HEADER parses but whose deflate
    # body is corrupt surfaces the raw decompressor error from inside
    # GzipFile.read(), not a tarfile/OSError wrapper (fuzz-found in
    # the zip twin, same mechanism here)
    corrupt = (tarfile.TarError, EOFError, OSError, ValueError,
               TypeError, zlib.error)
    budget = _MAX_ARCHIVE_MEMBER_BYTES
    try:
        from kiji_mapreduce_spark.io import zstd_codec

        if zstd_codec.is_zstd(blob):
            if len(blob) > _MAX_ZSTD_ARCHIVE_BYTES:
                raise ValueError(
                    f"{path}: .tar.zst shard over the "
                    f"{_MAX_ZSTD_ARCHIVE_BYTES >> 20} MiB "
                    "pure-Python decode gate — recompress as .tar.gz "
                    "or split the shard")
            blob = zstd_codec.decompress(
                blob, max_output=_MAX_ZSTD_ARCHIVE_OUT,
                max_input=_MAX_ZSTD_ARCHIVE_BYTES)
        tf = tarfile.open(fileobj=_io.BytesIO(blob), mode="r|*")
    except corrupt as e:
        # truncated shard / corrupt compression / the zstd gates: the
        # lenient contract keeps everything already yielded (crawl/
        # WARC precedent) — the always-lenient shard stream depends on
        # it, else one hostile shard wedges the claimed offset-log
        # batch forever
        if not lenient:
            raise ValueError(f"{path}: corrupt tar archive: {e}") from e
        return
    with tf:
        it = iter(tf)
        while True:
            try:
                member = next(it)
            except StopIteration:
                return
            except corrupt as e:
                if not lenient:
                    raise ValueError(
                        f"{path}: corrupt tar archive: {e}") from e
                return
            if not member.isfile():
                continue
            if member.size > budget:
                msg = (f"{path}: archive members exceed the "
                       f"{_MAX_ARCHIVE_MEMBER_BYTES >> 30} GiB "
                       f"per-archive ceiling at {member.name!r}")
                if not lenient:
                    raise ValueError(msg)
                return
            budget -= member.size
            try:
                fobj = tf.extractfile(member)
                data = None if fobj is None else fobj.read()
            except corrupt as e:
                if not lenient:
                    raise ValueError(
                        f"{path}: corrupt tar archive: {e}") from e
                return
            if data is None:
                continue
            yield member.name, member.size, data


def _iter_zip_members(blob: bytes, path: str, lenient: bool):
    """Yield (member_path, size, content) for file members of a zip
    (central-directory read; sizes are declared up front, so the bomb
    gate fires before any inflate)."""
    import io as _io
    import zipfile
    import zlib

    budget = _MAX_ARCHIVE_MEMBER_BYTES
    try:
        with zipfile.ZipFile(_io.BytesIO(blob)) as zf:
            for zinfo in zf.infolist():
                if zinfo.is_dir():
                    continue
                if zinfo.file_size > budget:
                    raise ValueError(
                        f"{path}: archive members exceed the "
                        f"{_MAX_ARCHIVE_MEMBER_BYTES >> 30} GiB "
                        f"per-archive ceiling at {zinfo.filename!r}")
                budget -= zinfo.file_size
                yield zinfo.filename, zinfo.file_size, zf.read(zinfo)
    except (zipfile.BadZipFile, EOFError, OSError, NotImplementedError,
            RuntimeError, ValueError, zlib.error) as e:
        # BadZipFile/EOF/OS: corruption; NotImplementedError:
        # unsupported compression method; RuntimeError: encrypted
        # members (zipfile's spelling); ValueError: the bomb gate
        # above; zlib.error: a member whose local header parses but
        # whose deflate stream is corrupt — zipfile lets the raw
        # decompressor error through (fuzz-found, the r11 TypeError
        # lesson replayed) — all the same strict/lenient contract
        if not lenient:
            raise ValueError(f"{path}: unreadable zip archive: {e}") from e


def read_archive_members(spark: SparkSession, paths,
                         archive_format: str = "tar",
                         lenient: bool = False) -> DataFrame:
    """tar/zip archive members as rows: (path, member_no, member_path,
    size, content binary) — the ingest surface for dataset shards
    (image/audio corpora ship as tar or zip far more often than as
    per-file objects).

    Scale shape: archives are not splittable (tar is a stream, zip
    needs its trailing central directory), so the FILE is the unit of
    parallelism — exactly how sharded corpora are laid out (thousands
    of ~1 GB shards). ``binaryFile`` never splits; one task walks one
    archive; tar members stream one at a time (O(member) memory).
    ``lenient`` keeps the members parsed before a truncation/corruption
    instead of failing the job (the WARC precedent)."""
    files = spark.read.format("binaryFile").load(paths)
    return archive_members_from_files(files, archive_format,
                                      lenient=lenient)


def archive_members_from_files(files: DataFrame, archive_format: str,
                               lenient: bool = False) -> DataFrame:
    """The parser half of ``read_archive_members`` over an existing
    (path, content) DataFrame — streaming-reusable like
    ``warc_records_from_files``."""
    import pandas as pd

    if archive_format not in ("tar", "zip"):
        raise ValueError(f"unknown archive format {archive_format!r}")
    it = (_iter_tar_members if archive_format == "tar"
          else _iter_zip_members)
    schema = ("path string, member_no int, member_path string, "
              "size long, content binary")

    def _members(batches):
        for pdf in batches:
            # one yield per archive (the WARC pattern): a batch-wide
            # accumulator would hold several decompressed shards at
            # once
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = {"path": [], "member_no": [],
                        "member_path": [], "size": [], "content": []}
                for no, (name, size, data) in enumerate(
                        it(bytes(content), path, lenient)):
                    rows["path"].append(path)
                    rows["member_no"].append(no)
                    rows["member_path"].append(name)
                    rows["size"].append(size)
                    rows["content"].append(data)
                yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_members,
                                                       schema)


def read_webdataset(spark: SparkSession, paths,
                    lenient: bool = False) -> DataFrame:
    """WebDataset-convention tar shards as SAMPLE rows: (path, key,
    sample map<extension, content>) — members sharing a basename up
    to the first dot form one training sample ("000017.jpg" +
    "000017.cls" + "000017.json" -> key "000017", map keys "jpg",
    "cls", "json").

    Grouping is CONTIGUOUS, as the convention requires (shard writers
    emit a sample's files adjacently) — no shuffle, no whole-archive
    accumulation beyond the current sample. A key recurring
    non-contiguously (off-convention shard) yields separate rows
    rather than silently merging across the archive."""
    files = spark.read.format("binaryFile").load(paths)
    return webdataset_samples_from_files(files, lenient=lenient)


def webdataset_samples_from_files(files: DataFrame,
                                  lenient: bool = False) -> DataFrame:
    """The parser half of ``read_webdataset`` over an existing
    (path, content) DataFrame — streaming-reusable like
    ``warc_records_from_files``."""
    import pandas as pd

    schema = "path string, key string, sample map<string, binary>"

    def _samples(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                rows = {"path": [], "key": [], "sample": []}
                cur_key = None
                cur: dict[str, bytes] = {}
                for name, _size, data in _iter_tar_members(
                        bytes(content), path, lenient):
                    # the WebDataset convention splits at the first
                    # dot of the BASENAME — a dotted directory
                    # ("images.v2/0001.jpg") must not collapse the
                    # whole archive into one mega-sample
                    slash = name.rfind("/") + 1
                    dot = name.find(".", slash)
                    if dot == -1:
                        key, ext = name, ""  # extension-less member
                    else:
                        key, ext = name[:dot], name[dot + 1:]
                    if key != cur_key and cur_key is not None:
                        rows["path"].append(path)
                        rows["key"].append(cur_key)
                        rows["sample"].append(cur)
                        cur = {}
                    cur_key = key
                    cur[ext] = data
                if cur_key is not None:
                    rows["path"].append(path)
                    rows["key"].append(cur_key)
                    rows["sample"].append(cur)
                if rows["path"]:
                    # never yield an EMPTY frame: pandas types the
                    # empty 'sample' column float64, which Arrow cannot
                    # convert to map<string,binary> — one corrupt/empty
                    # shard crashed the whole read, including under
                    # lenient=True (r13 review finding; the avro
                    # fallback skips empty yields for the same reason)
                    yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_samples,
                                                       schema)


def read_cdx(spark: "SparkSession", paths: list[str]) -> "DataFrame":
    """CDXJ crawl-index records (the pywb/Common Crawl ``cdx-*.gz``
    layout — one line per capture: ``<SURT key> <14-digit timestamp>
    <JSON>``) as typed rows: (surt_key, ts, url, mime, status,
    digest, length, offset, filename, languages). The index is HOW a
    100 TB crawl is subset before any WARC byte moves — filter here
    (status/mime/url/language), then fetch only the named
    (filename, offset, length) ranges.

    Pure Catalyst: the text source splits lines (gzip transparent,
    splittable per file), two substring pulls take the key and
    timestamp, ``from_json`` types the tail. Lines that do not parse
    (checkpoints, blank, corrupt) yield NULL fields rather than
    failing — index files in the wild carry headers and partial
    writes. Numeric fields arrive as JSON strings in real CC indexes;
    they cast to long here."""
    from pyspark.sql import functions as F

    lines = spark.read.text(paths).withColumnRenamed("value", "_ln")
    key = F.regexp_extract(F.col("_ln"), r"^(\S+) \d{14} \{", 1)
    ts = F.regexp_extract(F.col("_ln"), r"^\S+ (\d{14}) \{", 1)
    js = F.regexp_extract(F.col("_ln"), r"^\S+ \d{14} (\{.*\})$", 1)
    meta = F.from_json(F.nullif(js, F.lit("")),
                       "url string, mime string, status string, "
                       "digest string, length string, offset string, "
                       "filename string, languages string")
    return (lines
            .select(F.nullif(key, F.lit("")).alias("surt_key"),
                    F.nullif(ts, F.lit("")).alias("ts"),
                    meta.alias("_m"))
            .select("surt_key", "ts",
                    F.col("_m.url").alias("url"),
                    F.col("_m.mime").alias("mime"),
                    # try_cast, not cast: under ANSI a hostile index
                    # line ("12e4", "0x10") would otherwise abort the
                    # whole read instead of yielding NULL — the
                    # documented lenient contract (r13 fuzz find)
                    F.col("_m.status").try_cast("int").alias("status"),
                    F.col("_m.digest").alias("digest"),
                    F.col("_m.length").try_cast("long").alias("length"),
                    F.col("_m.offset").try_cast("long").alias("offset"),
                    F.col("_m.filename").alias("filename"),
                    F.col("_m.languages").alias("languages")))


#: per-range compressed-read ceiling for CDX-pointed fetches: a hostile
#: or corrupt index line declaring an absurd length must fail loudly
#: (strict) or skip (lenient) BEFORE the read materializes it — one
#: capture approaching a GiB is pathological in any real crawl
_MAX_RANGE_BYTES = 1 << 30

#: per-range decompressed ceiling (gzip ratios reach ~1000x, so the
#: declared compressed length alone cannot bound memory)
_MAX_RANGE_OUT = 2 << 30

#: output-batch byte budget for the range fetcher: flush the Arrow
#: batch once this much record content has accumulated
_FLUSH_BYTES = 32 << 20


def _zstd_magic(raw: bytes) -> bool:
    """True when ``raw`` opens with a zstd frame — data OR skippable
    (RFC 8878 §3.1.2: tools may prepend metadata frames, and the
    seekable format is skippable-framed), so format routing cannot be
    dodged by a leading seek table. Delegates to the codec's probe so
    the routing predicate has exactly one definition."""
    from kiji_mapreduce_spark.io import zstd_codec

    return zstd_codec.is_zstd(raw)


def _inflate_range(blob: bytes, where: str):
    """Inflate a CDX-pointed byte range. Common Crawl WARCs compress
    each record as its OWN gzip member, so a correctly-pointed range IS
    a complete gzip stream (concatenated members tolerated); ranges
    into per-record-frame ``.warc.zst`` archives are complete zstd
    frames and go through the RFC 8878 decoder under the same output
    ceiling; a range into a plain ``.warc`` passes through as-is.
    Returns bytes, or raises ValueError on a misaligned offset
    (mid-stream garbage), a truncated member, or a decompression bomb
    over ``_MAX_RANGE_OUT``."""
    import zlib

    if _zstd_magic(blob):
        from kiji_mapreduce_spark.io import zstd_codec

        # over-limit is a DISTINCT condition from corruption (the gzip
        # path keeps its ceiling error separate too): a valid range
        # past the pure-Python decode gate must say "recompress/split",
        # not misdirect diagnosis toward archive damage
        if len(blob) > _MAX_ZSTD_ARCHIVE_BYTES:
            raise ValueError(
                f"{where}: zstd range over the "
                f"{_MAX_ZSTD_ARCHIVE_BYTES >> 20} MiB pure-Python "
                "decode gate — recompress as .warc.gz or split")
        try:
            return zstd_codec.decompress(
                blob, max_output=_MAX_RANGE_OUT,
                max_input=_MAX_ZSTD_ARCHIVE_BYTES)
        except ValueError as e:
            raise ValueError(f"{where}: corrupt zstd range: {e}") from e
    if blob[:2] != b"\x1f\x8b":
        return blob
    out = bytearray()
    rest = blob
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(47)
        try:
            out += d.decompress(rest, _MAX_RANGE_OUT + 1 - len(out))
        except zlib.error as e:
            raise ValueError(f"{where}: corrupt gzip range: {e}") from e
        if len(out) > _MAX_RANGE_OUT:
            raise ValueError(
                f"{where}: range inflates past the "
                f"{_MAX_RANGE_OUT >> 30} GiB ceiling")
        if not d.eof:
            raise ValueError(f"{where}: truncated gzip range")
        rest = d.unused_data
    return bytes(out)


def _open_range_source(resolved: str):
    """Open one archive for seek+read range fetches. Local paths use
    plain ``open``; any URI scheme (``file://``, ``s3://``,
    ``hdfs://``, ``gs://``, ...) goes through ``pyarrow.fs``, whose
    input files are seekable range readers — the seam that makes the
    index-first pattern work against the object stores 100 TB crawls
    actually live on (pyarrow translates seek+read into ranged GETs).
    pyarrow errors map onto the caller's (OSError, ValueError)
    contract: ArrowIOError is an OSError, ArrowInvalid a ValueError.

    ``file:`` URIs normalize to plain local paths FIRST:
    ``warc_member_index`` carries Spark's binaryFile paths, which
    render in the single-slash ``file:/tmp/x`` form — pyarrow's
    ``from_uri`` rejects that spelling and the bare ``"://"`` probe
    missed it entirely, so an in-engine index -> fetch loop (no CDX
    base-strip in between) couldn't open its own files."""
    if resolved.startswith("file:"):
        from urllib.parse import urlparse

        return open(urlparse(resolved).path, "rb")
    if "://" in resolved:
        from pyarrow import fs as _pafs

        filesystem, fs_path = _pafs.FileSystem.from_uri(resolved)
        return filesystem.open_input_file(fs_path)
    return open(resolved, "rb")


def warc_records_from_ranges(ranges: DataFrame, base: str = "",
                             lenient: bool = False,
                             decode_http: bool = True,
                             stripe_bytes: int = 1 << 30) -> DataFrame:
    """Fetch and parse ONLY the WARC byte ranges a crawl index names —
    the read half of the index-first 100 TB pattern (``read_cdx`` is
    the filter half): given rows carrying (``filename``, ``offset``,
    ``length``), seek to each range, inflate it (each record in a
    ``.warc.gz`` is its own gzip member, so a range is a complete gzip
    stream), and run the bytes through the SAME record framer as the
    whole-file path — a range-fetched record is byte-identical to its
    whole-file-parsed twin. ``base`` prefixes relative index filenames
    (the Common Crawl layout names ``crawl-data/.../x.warc.gz``).

    At 100 TB this is the difference between touching ~1% and 100% of
    the bytes: filter the index on status/mime/url/language (pure
    Catalyst, pushdown-friendly), then pay I/O only for the survivors
    — the declarative-projection discipline of the reference's
    KijiDataRequest (``.../input/KijiTableMapReduceJobInput.java:
    53-56``) applied to archive bytes.

    Scale shape: only INDEX rows shuffle (one repartition), never
    archive bytes. The partition key is (filename, offset //
    ``stripe_bytes``): a file's ranges group into contiguous 1 GiB
    stripes, so a SINGLE huge archive with many selected ranges still
    spreads across tasks while each task keeps one forward seek sweep
    over one contiguous region with one open handle — object stores
    and spinning disks both reward this. Declared lengths are
    gated at ``_MAX_RANGE_BYTES`` BEFORE any read and the inflate at
    ``_MAX_RANGE_OUT``; a misaligned/corrupt/oversized range raises
    (strict) or skips that range and keeps going (lenient — the crawl
    ingest contract: one bad index line must not empty the fetch).

    Output schema adds ``offset`` (the range's provenance) to the
    ``warc_records_from_files`` schema; ``record_no`` numbers records
    WITHIN each range (0 for the usual one-record range)."""
    import os

    import pandas as pd

    # resolve a relative plain-path base DRIVER-side: executor Python
    # workers resolve os.path.join against THEIR cwd, which on a real
    # cluster is not the shell's — under --lenient every open then
    # fails and the job exits 0 with an empty corpus (the silent-no-op
    # class). Same rule as cdx_lines' base strip: URIs pass through.
    if base and "://" not in base:
        base = os.path.abspath(base)

    schema = ("path string, offset long, record_no int, "
              "warc_type string, target_uri string, warc_date string, "
              "record_id string, content_length long, content binary")
    cols = ("record_no", "warc_type", "target_uri", "warc_date",
            "record_id", "content_length", "content")

    prepared = (ranges
                .filter(F.col("filename").isNotNull()
                        & F.col("offset").isNotNull()
                        & F.col("length").isNotNull())
                .select(F.col("filename").cast("string"),
                        F.col("offset").cast("long"),
                        F.col("length").cast("long"))
                .repartition(
                    F.col("filename"),
                    F.floor(F.col("offset") / F.lit(int(stripe_bytes))))
                .sortWithinPartitions("filename", "offset"))

    def _fetch(batches):
        handle = None
        handle_path = None
        # last path whose OPEN failed: under lenient, later ranges for
        # the same file skip immediately instead of re-paying a failed
        # open (an S3 round trip + FileSystem.from_uri) per range — an
        # index naming 50k captures in one deleted archive otherwise
        # turns one error into 50k network calls (r13 review finding).
        # Ranges arrive sorted by (filename, offset), so one slot is
        # enough; seek/read failures stay per-range (same file may
        # still hold good ranges past a bad offset).
        failed_path = None

        def _open(resolved):
            # one handle at a time: ranges arrive grouped by file,
            # sorted by offset. handle_path is recorded only AFTER a
            # successful open: setting it first left a None handle
            # cached after a failed open, and the NEXT range for the
            # same missing file then crashed on None.seek() instead of
            # skipping under the lenient contract (r13 review finding)
            nonlocal handle, handle_path
            if handle_path != resolved or handle is None:
                if handle is not None:
                    handle.close()
                    handle = None
                handle_path = None
                handle = _open_range_source(resolved)
                handle_path = resolved
            return handle

        # yields batch under a BYTE budget, not per range and not per
        # Arrow batch: per-range yields cost ~2.6x in Arrow framing
        # overhead on small records (measured), while an unbounded
        # accumulator would hold many multi-MB pages at once — the
        # budget caps resident output at _FLUSH_BYTES + one range
        acc = {"path": [], "offset": []}
        acc.update({k: [] for k in cols})
        acc_bytes = 0

        def _flush():
            nonlocal acc, acc_bytes
            pdf = pd.DataFrame(acc)
            acc = {"path": [], "offset": []}
            acc.update({k: [] for k in cols})
            acc_bytes = 0
            return pdf

        try:
            for pdf in batches:
                for fname, off, length in zip(
                        pdf["filename"], pdf["offset"], pdf["length"]):
                    off, length = int(off), int(length)
                    resolved = str(fname)
                    if base and "://" not in resolved:
                        resolved = os.path.join(base, resolved)
                    where = f"{resolved}@{off}"
                    if lenient and resolved == failed_path:
                        continue  # this file's open already failed
                    try:
                        if off < 0 or length <= 0:
                            raise ValueError(
                                f"{where}: invalid range "
                                f"(offset={off}, length={length})")
                        if length > _MAX_RANGE_BYTES:
                            raise ValueError(
                                f"{where}: declared range length "
                                f"{length} over the "
                                f"{_MAX_RANGE_BYTES >> 30} GiB gate")
                        try:
                            f = _open(resolved)
                        except (OSError, ValueError):
                            failed_path = resolved
                            raise
                        f.seek(off)
                        blob = f.read(length)
                        if len(blob) < length:
                            raise ValueError(
                                f"{where}: short read ({len(blob)} of "
                                f"{length} bytes) — offset past EOF "
                                "or truncated archive")
                        raw = _inflate_range(blob, where)
                    except (OSError, ValueError) as e:
                        # misaligned offsets, missing/truncated files,
                        # the gates: one bad index line skips (lenient)
                        # or aborts loudly (strict) — never a silent
                        # wrong record
                        if lenient:
                            continue
                        raise ValueError(str(e)) from e
                    # strict framing within the range: the offset came
                    # from an index, so a non-WARC prefix means the
                    # index is wrong, not the archive — but under
                    # lenient the framer's keep-parsed-prefix contract
                    # applies as everywhere else
                    for rec in _frame_warc_records([raw], where,
                                                   lenient):
                        if decode_http:
                            rec = rec[:-1] + (
                                _decode_http_payload(rec[-1]),)
                        acc["path"].append(resolved)
                        acc["offset"].append(off)
                        for key, val in zip(cols, rec):
                            acc[key].append(val)
                        acc_bytes += len(rec[-1] or b"")
                    if acc_bytes >= _FLUSH_BYTES:
                        yield _flush()
            if acc["path"]:
                yield _flush()
        finally:
            if handle is not None:
                handle.close()

    return prepared.mapInPandas(_fetch, schema)


def _walk_gz_members(raw: bytes, where: str):
    """Yield (offset, compressed_length, decompressed bytes) per gzip
    member of a per-record-member archive (the Common Crawl layout) —
    the compressed offsets are exactly what a CDX index records.
    Chunk-fed like ``_inflate_members`` (the unused-data copy is at
    most one chunk per member); each member's decompressed size is
    capped at ``_MAX_RANGE_OUT``. ValueError on corruption/truncation."""
    import zlib

    mv = memoryview(raw)
    step = 1 << 20
    pos = 0
    while pos < len(raw):
        start = pos
        d = zlib.decompressobj(wbits=47)
        out = bytearray()
        try:
            while not d.eof and pos < len(raw):
                chunk = mv[pos:pos + step]
                out += d.decompress(chunk)
                if len(out) > _MAX_RANGE_OUT:
                    raise ValueError(
                        f"{where}: member at {start} inflates past "
                        f"the {_MAX_RANGE_OUT >> 30} GiB ceiling")
                pos += len(chunk)
        except zlib.error as e:
            raise ValueError(
                f"{where}: corrupt gzip member near byte {pos}: {e}"
            ) from e
        if not d.eof:
            raise ValueError(f"{where}: truncated final gzip member")
        pos -= len(d.unused_data)
        yield start, pos - start, bytes(out)


def _walk_zst_members(raw: bytes, where: str):
    """Yield (offset, compressed_length, decompressed bytes) per zstd
    DATA frame of a per-record-frame ``.warc.zst`` — the zstd analogue
    of ``_walk_gz_members`` (RFC 8878 frames are self-delimiting and
    concatenable, so the frame offsets are exactly what a CDX index
    records). Skippable frames (the seekable format's seek table, or
    tool metadata) carry no records and are passed over. Pure
    delegation to ``_zst_data_frames`` — the READ path decodes
    through the same loop and the same gates, so index and read
    agree on every archive's decodable prefix."""
    yield from _zst_data_frames(raw, where)


def _walk_plain_records(raw: bytes, where: str):
    """Yield (offset, byte_length, record bytes) per record of an
    UNCOMPRESSED .warc — the offset-tracking twin of the framer's
    carve loop (spans exclude the optional trailing CRLF CRLF, which
    the framer treats as inter-record padding either way)."""
    pos = 0
    n = len(raw)
    while pos < n:
        while raw[pos:pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        he = raw.find(b"\r\n\r\n", pos)
        if he < 0 or not raw.startswith(b"WARC/", pos):
            raise ValueError(
                f"{where}: malformed WARC record header at byte {pos}")
        length = None
        for line in bytes(raw[pos:he]).split(b"\r\n")[1:]:
            name, _, value = line.partition(b":")
            if name.strip().lower() == b"content-length":
                try:
                    length = int(value.strip())
                except ValueError:
                    pass
        if length is None or length < 0:
            raise ValueError(
                f"{where}: WARC record at byte {pos} has no valid "
                "Content-Length")
        end = he + 4 + length
        if end > n:
            raise ValueError(
                f"{where}: WARC record at byte {pos} truncated")
        yield pos, end - pos, bytes(raw[pos:end])
        pos = end


def read_warc_raw(spark: SparkSession, paths: list[str],
                  lenient: bool = False) -> DataFrame:
    """WARC records as their ORIGINAL bytes — (path, offset, record
    binary, record_id, target_uri) — for byte-faithful re-sharding:
    ``read_warc_records`` parses records into 5 typed columns and
    DROPS every other header (Content-Type's
    ``application/http; msgtype=response``, WARC-Payload-Digest,
    WARC-IP-Address, WARC-Concurrent-To, ...), so re-rendering from
    those columns would silently strip metadata replay tools and
    digest-based dedup depend on. This reader keeps each record's
    exact bytes (header block + body; the inter-record CRLFCRLF
    separator is framing, not record data — ``pack_warc`` re-appends
    it); ``record_id``/``target_uri`` are pulled out only as
    shard/sort keys. ``pack_warc(raw_col=...)`` wraps these bytes
    verbatim in fresh per-record members.

    Scale shape: file = unit of parallelism (the WARC reader's
    contract); per-record-member archives split at member boundaries
    and multi-record members re-frame with the offset-tracking plain
    walker — memory O(member + record). Lenient keeps each file's
    parsed prefix; strict raises.

    ``doc_id`` is ``xxhash64(path, record_no)`` — EXACTLY the id the
    whole-file crawl ingest mints (``crawl._record_key``), so a
    curated survivor/reject table from ``crawl_documents`` downstream
    joins straight back to the raw records: the write-curated-
    survivors-as-archives loop (``warc-pack --keep-ids``)."""
    import re as _re

    import pandas as pd

    files = spark.read.format("binaryFile").load(paths)
    schema = ("path string, offset long, record_no int, "
              "record binary, record_id string, target_uri string")
    rid_re = _re.compile(rb"(?im)^WARC-Record-ID:[ \t]*([^\r\n]+)")
    uri_re = _re.compile(rb"(?im)^WARC-Target-URI:[ \t]*([^\r\n]+)")

    def _records(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                is_plain = not (raw[:2] == b"\x1f\x8b"
                                or _zstd_magic(raw))
                walker = (_walk_plain_records if is_plain
                          else _walk_gz_members
                          if raw[:2] == b"\x1f\x8b"
                          else _walk_zst_members)
                rows = {"path": [], "offset": [], "record_no": [],
                        "record": [], "record_id": [],
                        "target_uri": []}

                def _add(off, rec: bytes):
                    head = rec[:rec.find(b"\r\n\r\n")
                               if b"\r\n\r\n" in rec else len(rec)]
                    m = rid_re.search(head)
                    u = uri_re.search(head)
                    rows["path"].append(path)
                    rows["offset"].append(off)
                    rows["record_no"].append(len(rows["record_no"]))
                    rows["record"].append(rec)
                    rows["record_id"].append(
                        m.group(1).strip().decode("utf-8", "replace")
                        if m else "")
                    rows["target_uri"].append(
                        u.group(1).strip().decode("utf-8", "replace")
                        if u else "")

                try:
                    for off, _ln, data in walker(raw, path):
                        if is_plain:
                            _add(off, data)
                        else:
                            # a member may frame several records:
                            # split with the offset-tracking plain
                            # walker over the DECOMPRESSED bytes
                            for _o, _l, rec in _walk_plain_records(
                                    data, path):
                                _add(off, rec)
                except ValueError:
                    if not lenient:
                        raise
                yield pd.DataFrame(rows)

    return (files.select("path", "content")
            .mapInPandas(_records, schema)
            # the whole-file parser's id arithmetic, verbatim: the
            # per-file record counter matches _frame_warc_records'
            # numbering because both walk records in file order
            .withColumn("doc_id", F.xxhash64("path", "record_no")))


def warc_member_index(files: DataFrame,
                      lenient: bool = False) -> DataFrame:
    """Build the raw material of a CDX index from WARC archives: one
    row per record with the (``offset``, ``length``) BYTE RANGE that
    fetches it back — per-gzip-member offsets for ``.warc.gz`` (each
    member is its own range), per-zstd-frame offsets for
    per-record-frame ``.warc.zst`` (RFC 8878 frames are
    self-delimiting; skippable frames are passed over), and record
    byte spans for plain ``.warc`` — plus the record headers and the
    HTTP status / mime /
    content digest the standard CDXJ fields carry. ``cdx_lines``
    renders these rows as CDXJ text; ``warc_records_from_ranges``
    consumes the ranges. Together they close the index-first loop for
    archives that ship WITHOUT an index: index once, then every
    selective job touches only the bytes it needs.

    Scale shape: file = unit of parallelism (same as the parser);
    only index rows leave the task — record payloads are digested and
    dropped. Lenient stops a corrupt file at the last good record
    (the parser's contract); strict raises ValueError."""
    import hashlib
    import re as _re

    import pandas as pd

    schema = ("path string, offset long, length long, record_no int, "
              "warc_type string, target_uri string, warc_date string, "
              "record_id string, content_length long, status int, "
              "mime string, digest string")
    cols = schema.replace(" string", "").replace(" long", "") \
        .replace(" int", "").split(", ")
    # dotless versions included: archives written by modern crawlers
    # record "HTTP/2 200" / "HTTP/3 200" status lines (r13 review
    # finding — a NULL status here silently failed every
    # --cdx-status filter downstream)
    status_re = _re.compile(rb"^HTTP/\d(?:\.\d)? (\d{3})")
    ctype_re = _re.compile(
        rb"(?im)^content-type:\s*([^\r\n;]+)")

    def _index(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                is_gz = raw[:2] == b"\x1f\x8b"
                is_zst = _zstd_magic(raw)
                walker = (_walk_gz_members if is_gz
                          else _walk_zst_members if is_zst
                          else _walk_plain_records)
                rows = {k: [] for k in cols}
                try:
                    for off, ln, data in walker(raw, path):
                        member = list(_frame_warc_records([data], path,
                                                          lenient))
                        if (is_gz or is_zst) and len(member) > 1:
                            # a whole-file (or multi-record)
                            # compression member is NOT the per-record-
                            # member layout: every index line would
                            # point at the same range and a fetch
                            # would yield N copies of every record
                            # (r13 review finding) — refuse rather
                            # than emit a silently-duplicating index
                            kind = "gzip member" if is_gz \
                                else "zstd frame"
                            raise ValueError(
                                f"{path}: {kind} at byte {off} "
                                f"frames {len(member)} records — not "
                                "the per-record-member layout, so "
                                "ranges would fetch duplicates; "
                                "index the uncompressed .warc or "
                                "recompress one record per "
                                "member/frame")
                        for rec in member:
                            (rec_no, wtype, uri, date, rid,
                             clen, body) = rec
                            status, mime = None, None
                            if body.startswith(b"HTTP/"):
                                m = status_re.match(body)
                                status = int(m.group(1)) if m else None
                                head = body[:body.find(b"\r\n\r\n")
                                            if b"\r\n\r\n" in body
                                            else len(body)]
                                cm = ctype_re.search(head)
                                if cm:
                                    mime = cm.group(1).strip() \
                                        .lower().decode("ascii",
                                                        "replace")
                            vals = (path, off, ln, rec_no, wtype, uri,
                                    date, rid, clen, status, mime,
                                    hashlib.md5(body).hexdigest())
                            for k, v in zip(cols, vals):
                                rows[k].append(v)
                except ValueError:
                    if not lenient:
                        raise
                yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(_index, schema)


def cdx_lines(index: DataFrame, base: str = "") -> DataFrame:
    """Render ``warc_member_index`` rows as CDXJ text lines (the
    pywb/Common Crawl shape ``read_cdx`` parses back): ``<SURT key>
    <14-digit ts> <JSON>``. Pure Catalyst. The SURT key is the
    simplified host-reversed form (``com,example)/path`` — no query
    normalization, documented divergence from pywb's full canon);
    ``base`` is stripped off the archive path so the index carries
    relative filenames resolvable against any replica of the tree."""
    uri = F.col("target_uri")
    host = F.lower(F.try_parse_url(F.trim(uri), F.lit("HOST")))
    upath = F.coalesce(
        F.nullif(F.try_parse_url(F.trim(uri), F.lit("PATH")),
                 F.lit("")),
        F.lit("/"))
    surt = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"), upath)
    ts = F.substring(
        F.regexp_replace(F.col("warc_date"), r"[^0-9]", ""), 1, 14)
    import os as _os

    # binaryFile reports local paths as file:/... URIs — normalize
    # before the base strip so a plain-path base matches; a RELATIVE
    # base (cdx-index --input data/warcs) resolves to its absolute
    # form for the same reason (r13 review finding: the mismatch left
    # machine-absolute filenames in the index, breaking the
    # "resolvable against any replica" contract without a warning)
    fname = F.regexp_replace(F.col("path"), r"^file:/+", "/")
    if base and "://" not in base:
        base = _os.path.abspath(base)
    if base:
        prefix = base if base.endswith("/") else base + "/"
        fname = F.when(fname.startswith(prefix),
                       F.substr(fname, F.lit(len(prefix) + 1))) \
            .otherwise(fname)
    js = F.to_json(F.struct(
        F.col("target_uri").alias("url"),
        F.col("mime"),
        F.col("status").cast("string").alias("status"),
        F.col("digest"),
        F.col("length").cast("string").alias("length"),
        F.col("offset").cast("string").alias("offset"),
        fname.alias("filename")))
    keep = host.isNotNull() & (F.length(ts) == 14)
    return (index.filter(keep)
            .select(F.concat(surt, F.lit(" "), ts, F.lit(" "), js)
                    .alias("value")))
