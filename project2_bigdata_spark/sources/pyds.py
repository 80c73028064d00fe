"""Spark 4 Python Data Source API: a splittable mongoexport-JSONL
connector.

The reference's native interchange format is mongoexport extended JSON,
one document per line (SURVEY.md §2.1 S1). The engine already proves
the serialize→repair round trip through the builtin text machinery
(``ingest_extended_json_repair``); this module implements the format as
a CUSTOM CONNECTOR through ``pyspark.sql.datasource.DataSource`` — the
Spark 4 API for sources no JVM connector covers, which is exactly the
one place a row-at-a-time Python boundary is the idiomatic choice
(there is no JVM alternative to be slower than; the alternative is not
reading the format at all).

Scale design — byte-range splits, the Hadoop text-input discipline:
``partitions()`` plans N byte ranges over the file WITHOUT reading it
(one ``stat`` call); each reader task seeks to its range start,
discards the partial first line (unless at offset 0), then parses every
line whose FIRST byte lies inside its range, reading through the first
newline past the range end. Every line is owned by exactly one
partition with zero coordination, so a 1 TB export reads with
1000-way parallelism the same as this test file reads with 8.

Repair semantics match ``sources.ingest.repair_sale_date``: a document
carries ``saleDateRaw`` as either a bare ISO string (dirty) or a
``{"$date": iso}`` wrapper (clean); money arrives as
``{"$numberDecimal": "<2dp string>"}`` and parses via ``float(<str>)``
(correctly rounded — identical to the oracle's VARCHAR→DOUBLE cast).

Round 9 closes the connector's surface (VERDICT r8 items 4 and 7):

* **Write side** — ``DataSourceWriter`` (batch) and
  ``DataSourceStreamWriter`` (per-batch-overwrite ``batch=<id>/``
  layout) emit extended-JSON lines with task-side staging and
  driver-side rename-publish, so export→engine→export round-trips
  losslessly (registered queries ``pyds_mongoexport_roundtrip`` and
  ``pyds_mongoexport_stream_roundtrip``).
* **Filter pushdown** — ``pushFilters`` accepts simple predicates on
  the flat columns, evaluated before rows cross the Python→JVM
  boundary; purchase_method equality additionally drives a bytes-level
  prefilter that skips ``json.loads`` for non-candidate lines
  (measured in SCALE.md §pyds-pushdown).
* The batch reader resolves a DIRECTORY path to its part files
  recursively, planning byte ranges per file — the writer's sharded
  output reads back with the same split discipline as a single file.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

FORMAT_NAME = "p2bd_jsonl"

#: Output schema (DDL). sale_ts stays a STRING formatted exactly like
#: the oracle's strftime — timestamps never round-trip through a tz.
SCHEMA = ("sale_id string, sale_ts string, total_price double, "
          "purchase_method string")

#: column name -> tuple position in the parsed row (pushdown predicates
#: evaluate positionally against _parse_sale_line's output)
_COL_IDX = {"sale_id": 0, "sale_ts": 1, "total_price": 2,
            "purchase_method": 3}


def _data_files(path: str) -> list[str]:
    """Resolve ``path`` to its data files: a plain file is itself; a
    directory (a distributed write from this connector's writer, a
    Spark text sink, or the stream writer's ``batch=N`` layout) yields
    every non-hidden data file recursively — ``_SUCCESS`` markers and
    dot-named staging/checkpoint dirs are skipped."""
    import os

    if not os.path.isdir(path):
        return [path]
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out.extend(
            os.path.join(root, f) for f in files
            if not f.startswith((".", "_"))
        )
    return sorted(out)


class _ByteRange(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


#: chunk size for the buffered range scan (bounded memory per task even
#: when one range covers a whole multi-GB file)
_SCAN_CHUNK = 4 << 20


def _iter_range_lines(fh, start: int, end: int, skip_first: bool,
                      include_end_line: bool):
    """Yield the complete lines owned by byte range ``[start, end)`` of
    an open binary file, under the Hadoop LineRecordReader convention
    (r9): skip the first (partial) line when ``skip_first``; a line
    straddling ``end`` is completed and owned; a line starting EXACTLY
    at ``end`` is owned iff ``include_end_line`` (True for batch ranges
    and interior streaming sub-ranges — the right neighbor skips it;
    False at a streaming WINDOW end, where it belongs to the next
    micro-batch).

    Reads in ``_SCAN_CHUNK`` blocks and splits lines in C — the r9
    scan-speed fix: the old per-line ``readline()`` + ``tell()`` loop
    spent its wall time in Python call overhead (measured at K=100:
    the 15M-line selective scan was line-loop-bound, making filter
    pushdown look like a 1.05x win; chunked splitting moves the
    iteration cost into bytes.split)."""
    if start >= end:
        return
    fh.seek(start)
    if skip_first:
        fh.readline()  # partial first line — previous range owns it
        pos = fh.tell()
        if pos > end:
            return  # the whole range lay inside one line
    else:
        pos = start
    carry = b""
    while pos < end:
        buf = fh.read(min(_SCAN_CHUNK, end - pos))
        if not buf:
            break  # EOF before planned end (truncated/replaced file)
        pos += len(buf)
        lines = (carry + buf).split(b"\n")
        carry = lines.pop()  # partial tail (or b"" after a newline)
        yield from lines
    if carry:
        # straddling line: started before end -> owned, complete it
        yield carry + fh.readline()
    elif include_end_line:
        # range ended exactly on a newline: the line starting AT end
        # is owned here (the next range skips it); b'' at EOF
        tail = fh.readline()
        if tail:
            yield tail


def _cuts(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` cut into exactly ``n`` contiguous non-empty spans
    (``1 <= n <= hi - lo``) whose lengths differ by at most one byte."""
    bounds = [lo + (hi - lo) * i // n for i in range(n + 1)]
    return list(zip(bounds, bounds[1:]))


class JsonlSaleReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options["path"]
        self.n = int(options.get("num_partitions", "8"))
        self.pushed: list = []
        # measurement escape hatch (tools/scale_stress.py pyds_pushdown
        # compares pushed vs unpushed walls on the same export)
        self.disable_pushdown = (
            options.get("disable_pushdown", "false").lower() == "true")

    def pushFilters(self, filters):
        """Spark 4 filter pushdown (VERDICT r8 item 7): accept simple
        comparison/membership predicates on the connector's flat
        columns; everything else is yielded back for Spark to apply.
        Accepted filters are evaluated inside ``read()`` BEFORE rows
        cross the Python→Arrow→JVM boundary, and equality on
        purchase_method additionally drives a bytes-level prefilter
        that skips ``json.loads`` entirely for non-matching lines —
        the proportional-win path on selective scans."""
        for f in filters:
            if (not self.disable_pushdown
                    and isinstance(f, (EqualTo, In, GreaterThan,
                                       GreaterThanOrEqual, LessThan,
                                       LessThanOrEqual, StringStartsWith,
                                       IsNotNull))
                    and len(f.attribute) == 1
                    and f.attribute[0] in _COL_IDX):
                self.pushed.append(f)
            else:
                yield f

    def _predicate(self):
        return _compile_predicate(self.pushed)

    def _byte_prefilter(self):
        return _compile_prefilter(self.pushed)

    def partitions(self):
        import os

        files = [(f, os.path.getsize(f)) for f in _data_files(self.path)]
        total = sum(s for _, s in files)
        if total == 0:
            anchor = files[0][0] if files else self.path
            return [_ByteRange(anchor, 0, 0)]
        parts = []
        for f, size in files:
            if size == 0:
                continue
            # ranges proportional to file share, >= 1 per file, cut at
            # exact boundaries so a file gets exactly n_f of them
            n_f = min(size, max(1, round(self.n * size / total)))
            parts.extend(
                _ByteRange(f, s, e) for s, e in _cuts(0, size, n_f))
        return parts

    def read(self, part):
        # saleDateRaw holds NESTED JSON TEXT (quoted bare ISO or an
        # object-as-string) — _parse_sale_line owns that repair for
        # both the batch and streaming readers.
        #
        # Boundary discipline (r9 fix): a range also owns the line
        # starting EXACTLY at its end (`pos > end` break, not >=) —
        # the Hadoop LineRecordReader convention. The next range skips
        # its first line unconditionally, so without this a line whose
        # first byte coincides with a range boundary was read by
        # NEITHER side (systematic on uniform-length lines, where
        # size//n boundaries repeatedly land on line starts).
        if part.start >= part.end:
            return  # empty-table anchor range: nothing to open (the
            #         anchor may be a directory with no data files)
        with open(part.path, "rb") as fh:
            yield from _batches_from_lines(
                _iter_range_lines(
                    fh, part.start, part.end,
                    skip_first=part.start > 0, include_end_line=True),
                pre=self._byte_prefilter(), pred=self._predicate())


def _compile_predicate(pushed):
    """Compile pushed filters into one row predicate (tuple in, bool
    out). None when nothing was pushed. SQL three-valued semantics on
    NULL inputs (code-review r9 fix): every comparison is not-true
    when the column is NULL — the old bare Python operators raised
    TypeError on a null field (failing the whole scan where Spark's
    own Filter would just drop the row), and ``x IN (..., None)``
    wrongly kept NULL rows. Shared by the batch reader (pushFilters)
    and the streaming reader (options-level predicate)."""
    if not pushed:
        return None
    checks = []
    for f in pushed:
        i = _COL_IDX[f.attribute[0]]
        nn = lambda r, i=i: r[i] is not None  # noqa: E731
        if isinstance(f, EqualTo):
            checks.append(lambda r, i=i, v=f.value: r[i] == v
                          and v is not None)
        elif isinstance(f, In):
            vals = tuple(v for v in f.value if v is not None)
            checks.append(lambda r, i=i, v=vals, nn=nn:
                          nn(r) and r[i] in v)
        elif isinstance(f, GreaterThan):
            checks.append(lambda r, i=i, v=f.value, nn=nn:
                          nn(r) and r[i] > v)
        elif isinstance(f, GreaterThanOrEqual):
            checks.append(lambda r, i=i, v=f.value, nn=nn:
                          nn(r) and r[i] >= v)
        elif isinstance(f, LessThan):
            checks.append(lambda r, i=i, v=f.value, nn=nn:
                          nn(r) and r[i] < v)
        elif isinstance(f, LessThanOrEqual):
            checks.append(lambda r, i=i, v=f.value, nn=nn:
                          nn(r) and r[i] <= v)
        elif isinstance(f, StringStartsWith):
            checks.append(
                lambda r, i=i, v=f.value: isinstance(r[i], str)
                and r[i].startswith(v))
        else:  # IsNotNull
            checks.append(nn)
    return lambda row: all(c(row) for c in checks)


#: string columns whose equality pushdown gets a bytes-level
#: prefilter, mapped to their JSON field name in the document
_PREFILTER_FIELDS = {"purchase_method": "purchaseMethod",
                     "sale_id": "$oid"}


def _compile_prefilter(pushed):
    """Bytes-level candidate test for string-equality pushdown: a
    line can only match if it contains the field's canonical JSON
    encoding (Spark's ``to_json`` spells ``"k":"v"``, Python's
    ``json.dumps`` spells ``"k": "v"`` — both covered, matching
    the two producers of this connector's format). Conservative:
    a surviving line is still exactly-checked post-parse; a
    skipped line cannot contain the serialized field at all. This
    is where a POINT LOOKUP on sale_id earns its proportional win:
    json.loads and the Arrow transfer are skipped for every
    non-candidate line (SCALE.md §pyds-pushdown).

    Conservativeness guard (code-review r9 fix): the prefilter only
    engages when the value's JSON encoding is LITERAL — pure ASCII
    with no characters any producer might escape (``json.dumps(v)
    == '"v"'``). A non-ASCII value encodes differently per producer
    (Spark's to_json emits raw UTF-8, Python's json.dumps emits
    \\uXXXX escapes), so a byte pattern built from one encoding
    would silently drop rows written by the other; such filters
    simply skip the prefilter and rely on the exact post-parse
    predicate."""
    import json

    pats = []
    for f in pushed:
        field = (_PREFILTER_FIELDS.get(f.attribute[0])
                 if isinstance(f, EqualTo) else None)
        if (field and isinstance(f.value, str)
                and json.dumps(f.value) == f'"{f.value}"'
                and json.dumps(field) == f'"{field}"'):
            k, v = f'"{field}"', f'"{f.value}"'
            pats.append((f"{k}:{v}".encode(), f"{k}: {v}".encode()))
    if not pats:
        return None
    return lambda line: all(a in line or b in line for a, b in pats)


def _eq_filters_from_options(options: dict) -> list:
    """Decode the streaming reader's options-level predicate
    (``eq_filters``: a JSON object of column → equality value) into
    pushed-filter objects for the shared compilers. The streaming
    Python DataSource API has no ``pushFilters`` hook (Spark 4.1), so
    the stream reader accepts the SAME semantics through an option —
    evaluated before rows cross the Python→Arrow→JVM boundary, with
    the bytes-level prefilter engaged for string equalities."""
    import json

    raw = options.get("eq_filters")
    if not raw:
        return []
    spec = json.loads(raw)
    bad = sorted(set(spec) - set(_COL_IDX))
    if bad:
        raise ValueError(f"eq_filters on unknown columns: {bad}")
    return [EqualTo((col,), val) for col, val in sorted(spec.items())]


def _batches_from_lines(lines, pre=None, pred=None):
    """Parse owned lines into Arrow RecordBatches of ~16k sale rows
    (r9): the Python DataSource worker converts yielded TUPLES to Arrow
    one row at a time — at 15M rows that conversion, not parsing,
    dominated the scan. Building columnar batches here moves the
    boundary cost to four bulk pa.array() calls per batch. ``pre`` is
    the bytes-level candidate test (skips json.loads), ``pred`` the
    exact post-parse predicate; both optional. Shared by the batch and
    streaming readers."""
    import pyarrow as pa

    schema = pa.schema([
        ("sale_id", pa.string()), ("sale_ts", pa.string()),
        ("total_price", pa.float64()),
        ("purchase_method", pa.string()),
    ])
    cols: tuple[list, list, list, list] = ([], [], [], [])

    def flush():
        batch = pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema)
        for c in cols:
            c.clear()
        return batch

    for line in lines:
        if not line.strip():
            continue
        if pre is not None and not pre(line):
            continue  # skip json.loads for a non-candidate line
        row = _parse_sale_line(line)
        if pred is None or pred(row):
            for c, v in zip(cols, row):
                c.append(v)
            if len(cols[0]) >= 16384:
                yield flush()
    if cols[0]:
        yield flush()


@dataclass
class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the staged file's basename (None for an
    empty partition — no file written)."""

    file: str | None = None


def _sale_to_line(row) -> bytes:
    """Serialize one sale row back to a mongoexport extended-JSON line
    (the exact shapes _parse_sale_line accepts: $oid / $date-wrapper
    saleDateRaw / $numberDecimal price). total_price came off a
    DECIMAL(18,2) → the %.2f format is its exact decimal rendering, so
    write→read round-trips losslessly. NULL fields serialize as JSON
    null (ADVICE r9: the paired reader can legitimately emit None when
    a source line carries a null, so a read→write pipeline must not
    crash on its own reader's output); the reader maps JSON null back
    to SQL NULL — nulls round-trip too."""
    import json

    doc = {
        "_id": {"$oid": row[0]} if row[0] is not None else None,
        "saleDateRaw": (json.dumps({"$date": row[1].replace(" ", "T") + "Z"})
                        if row[1] is not None else None),
        "price": ({"$numberDecimal": f"{row[2]:.2f}"}
                  if row[2] is not None else None),
        "purchaseMethod": row[3],
    }
    return (json.dumps(doc) + "\n").encode()


class JsonlSaleWriter(DataSourceArrowWriter):
    """Batch write side of the connector (VERDICT r8 item 4, Spark 4
    ``DataSourceArrowWriter`` — the Arrow variant, symmetric with the
    reader: partitions arrive as RecordBatches, never as per-row Spark
    Rows): each task streams its partition to a part file inside a
    hidden per-job staging dir; the DRIVER commit then publishes every
    staged file with a rename and drops ``_SUCCESS``. Task
    retries/speculation are safe — file names carry a uuid and only
    files named in commit messages are published; ``abort`` removes
    the whole staging dir. ``overwrite`` clears previously committed
    part files at commit time (the S6 drop/recreate semantics), never
    before the new data is fully staged."""

    def __init__(self, options: dict, overwrite: bool):
        import uuid

        self.path = options["path"]
        self.overwrite = overwrite
        self.staging = f"{self.path}/.staging-{uuid.uuid4().hex}"

    def write(self, iterator):
        import os
        import uuid

        from pyspark import TaskContext

        fh, name = None, None
        for batch in iterator:
            cols = [batch.column(i).to_pylist() for i in range(4)]
            if not cols[0]:
                continue
            if fh is None:  # lazily: empty partitions write no file
                os.makedirs(self.staging, exist_ok=True)
                pid = TaskContext.get().partitionId()
                name = f"part-{pid:05d}-{uuid.uuid4().hex}.jsonl"
                fh = open(f"{self.staging}/{name}", "wb")
            fh.write(b"".join(_sale_to_line(r) for r in zip(*cols)))
        if fh is None:
            return _FileCommit(None)
        fh.close()
        return _FileCommit(name)

    def commit(self, messages):
        import os
        import shutil

        # an all-empty write stages nothing; the sink dir must still
        # exist so _SUCCESS can land (empty relation => empty table)
        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            # drop the previous _SUCCESS FIRST (ADVICE r9): the delete-
            # then-publish sequence below is not atomic, and a crash
            # mid-way must leave the directory detectably UNCOMMITTED —
            # with the old marker still present, a partially-emptied
            # table read back as committed (wrong) data
            try:
                os.remove(f"{self.path}/_SUCCESS")
            except FileNotFoundError:
                pass
            # remove EVERY data file the paired reader would see — the
            # reader walks recursively, so a top-level-only glob would
            # resurrect stale rows from a prior stream writer's
            # batch=N/ layout after an "overwrite" (code-review r9 fix)
            for f in _data_files(self.path):
                os.remove(f)
            for name in os.listdir(self.path):
                d = os.path.join(self.path, name)
                if os.path.isdir(d) and not name.startswith("."):
                    shutil.rmtree(d, ignore_errors=True)  # emptied batch=N
        for m in messages:
            if m is not None and m.file:
                os.rename(f"{self.staging}/{m.file}",
                          f"{self.path}/{m.file}")
        shutil.rmtree(self.staging, ignore_errors=True)
        with open(f"{self.path}/_SUCCESS", "w"):
            pass

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class JsonlSaleStreamWriter(DataSourceStreamArrowWriter):
    """Streaming write side (``DataSourceStreamArrowWriter``, Arrow
    batches in — same kernel as the batch writer): tasks stage
    exactly like the batch writer; the per-batch DRIVER commit
    publishes the staged files under ``path/batch=<id>/`` with
    OVERWRITE of any prior content for that id — the same per-batch-
    overwrite idempotency discipline as the engine's parquet spool
    sinks, so an at-least-once replay of a micro-batch after a crash
    between sink write and checkpoint commit converges instead of
    duplicating. The batch reader's directory walk reads the
    ``batch=N`` layout back as one relation.

    The staging dir is DETERMINISTIC (no uuid): Spark runs the
    streaming sink's commit in a separate Python runner that
    re-instantiates the writer from options, so any per-instance
    randomness would point commit at a different dir than the one the
    executors staged into (observed: FileNotFoundError at commit).
    Micro-batches are serial, so one shared staging dir is race-free;
    per-file uuids keep retried/speculative tasks collision-free and
    commit only publishes files named in commit messages."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.staging = f"{self.path}/.stream-staging"

    # executor-side: identical staging discipline to the batch writer
    write = JsonlSaleWriter.write

    def commit(self, messages, batchId):
        import os
        import shutil

        bdir = f"{self.path}/batch={batchId}"
        shutil.rmtree(bdir, ignore_errors=True)  # replay → overwrite
        os.makedirs(bdir, exist_ok=True)
        for m in messages:
            if m is not None and m.file:
                os.rename(f"{self.staging}/{m.file}", f"{bdir}/{m.file}")
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages, batchId):
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


class JsonlSaleDataSource(DataSource):
    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        return SCHEMA

    def reader(self, schema):
        return JsonlSaleReader(self.options)

    def streamReader(self, schema):
        return _make_stream_reader(self.options)

    @staticmethod
    def _validate_sale_schema(schema) -> None:
        expected = list(_COL_IDX)
        got = [f.name for f in schema.fields]
        if got != expected:
            raise ValueError(
                f"{FORMAT_NAME} writes the sale schema {expected}, "
                f"got {got}")

    def writer(self, schema, overwrite):
        self._validate_sale_schema(schema)
        return JsonlSaleWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite):
        self._validate_sale_schema(schema)
        return JsonlSaleStreamWriter(self.options, overwrite)


def register_jsonl_source(spark) -> None:
    """Idempotent format registration (latest registration wins).
    Also enables Python-DataSource filter pushdown — a reader that
    implements pushFilters is REJECTED at planning time while the conf
    is off, so registration without it would break every scan."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:  # noqa: BLE001 — conf locked by the host
        pass
    spark.dataSource.register(JsonlSaleDataSource)


def read_jsonl_sales(spark, path: str, num_partitions: int | None = None):
    """Batch read through the connector. ``num_partitions`` byte ranges
    (None: one per task slot, ``defaultParallelism``), split across
    the export's files in proportion to their size."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    register_jsonl_source(spark)
    return (
        spark.read.format(FORMAT_NAME)
        .option("path", path)
        .option("num_partitions", str(num_partitions))
        .load()
    )


def write_jsonl_sales(df, path: str) -> None:
    """Distributed mongoexport-JSONL write through the connector's
    batch writer (one part file per non-empty partition, staged then
    rename-published with ``_SUCCESS``)."""
    register_jsonl_source(df.sparkSession)
    (df.write.format(FORMAT_NAME).mode("overwrite")
     .option("path", path).save())


class _StreamRange(InputPartition):
    """Byte sub-range of one micro-batch window. ``skip_first`` applies
    the split-ownership discipline: interior sub-range starts fall
    mid-line and must discard the partial line (owned by the previous
    sub-range); the WINDOW start is always a line boundary (offsets
    only ever land just past a newline — latestOffset clamps to the
    last one), so its first sub-range keeps its first line.
    ``at_window_end`` marks the window's LAST sub-range: interior
    sub-ranges also own a line starting exactly at their end (Hadoop
    convention — the next sub-range skips it; see the r9 boundary-
    coincidence fix in JsonlSaleReader.read), but a line starting
    exactly at the WINDOW end belongs to the NEXT micro-batch (whose
    first sub-range does not skip), so the last sub-range must stop
    strictly before it."""

    def __init__(self, start: int, end: int, skip_first: bool,
                 at_window_end: bool = True):
        self.start = start
        self.end = end
        self.skip_first = skip_first
        self.at_window_end = at_window_end


def _parse_sale_line(line: bytes):
    # Null discipline (ADVICE r9): every field is nullable — a JSON
    # null or an absent key (Spark's to_json omits null struct fields)
    # reads back as SQL NULL, matching what the paired writer emits for
    # a null column. Pushed predicates already apply SQL three-valued
    # logic to None fields.
    import json

    d = json.loads(line)
    raw = d.get("saleDateRaw")
    if raw is None:
        ts = None
    else:
        raw = raw.strip()
        iso = json.loads(raw)["$date"] if raw.startswith("{") else raw.strip('"')
        ts = iso.replace("T", " ").rstrip("Z")
    oid = d.get("_id")
    price = d.get("price")
    return (
        oid["$oid"] if oid is not None else None,
        ts,
        float(price["$numberDecimal"]) if price is not None else None,
        d.get("purchaseMethod"),
    )


class JsonlSaleStreamReader:
    """Streaming half of the connector — the FULL
    ``DataSourceStreamReader`` API, not the simple one: the simple
    reader prefetches every row DRIVER-SIDE single-threaded (its
    charter is low-rate sources; measured ~4 min for a 15 M-line K=100
    export), while this reader plans each micro-batch as byte-range
    partitions parsed EXECUTOR-side with the same split discipline as
    the batch reader — a growing export streams with full cluster
    parallelism.

    Offsets are byte positions, always LINE boundaries: ``latestOffset``
    clamps to the position just past the file's last newline (ADVICE
    r8: a writer mid-append leaves a partial final line; committing an
    offset inside it would make this window read past the offset and
    the next window re-parse the leftover fragment — crash or
    duplicate). The clamp scans backward from EOF, so a bounded replay
    of a quiescent file is still one executor-parallel micro-batch,
    and bytes appended after a run — including the completion of a
    previously-partial line — arrive as exactly one incremental batch
    on the next run (the growing-source semantics the unit tests pin,
    now including the torn-tail case)."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.n = int(options.get("num_partitions", "8"))
        # options-level predicate (r10, VERDICT r9 item 7): the
        # streaming API has no pushFilters, so selective replays
        # accept equality filters via the eq_filters option and run
        # them through the SAME compiled predicate + byte prefilter
        # as the batch reader — a filtered micro-batch skips
        # json.loads and the Arrow transfer for non-candidate lines
        self.pushed = _eq_filters_from_options(options)

    def initialOffset(self):
        return {"byte": 0}

    def latestOffset(self):
        import os

        size = os.path.getsize(self.path)
        if size == 0:
            return {"byte": 0}
        with open(self.path, "rb") as fh:
            pos, chunk = size, 1 << 16
            while pos > 0:
                lo = max(0, pos - chunk)
                fh.seek(lo)
                nl = fh.read(pos - lo).rfind(b"\n")
                if nl >= 0:
                    return {"byte": lo + nl + 1}
                pos = lo
        return {"byte": 0}  # no newline yet: nothing complete to read

    def partitions(self, start, end):
        lo, hi = start["byte"], end["byte"]
        if hi <= lo:
            return [_StreamRange(lo, lo, False)]
        return [
            _StreamRange(s, e, skip_first=(s != lo), at_window_end=(e == hi))
            for s, e in _cuts(lo, hi, min(self.n, hi - lo))
        ]

    def read(self, part):
        # boundary discipline mirrors the batch reader's r9 fix: an
        # interior sub-range also owns the line starting exactly at
        # its end (the next sub-range skips it); the window's last
        # sub-range stops strictly before its end — that position is
        # the next micro-batch's first line. Rows leave as Arrow
        # RecordBatches (same kernel as the batch reader).
        with open(self.path, "rb") as fh:
            yield from _batches_from_lines(
                _iter_range_lines(
                    fh, part.start, part.end,
                    skip_first=part.skip_first,
                    include_end_line=not getattr(
                        part, "at_window_end", True)),
                pre=_compile_prefilter(self.pushed),
                pred=_compile_predicate(self.pushed))

    def commit(self, end):
        pass  # the file is immutable once written; nothing to release

    def stop(self):
        pass


def _make_stream_reader(options):
    from pyspark.sql.datasource import DataSourceStreamReader

    # JsonlSaleStreamReader FIRST: the pyspark base class ships stub
    # methods that raise NotImplementedError, so it must lose the MRO
    class _Reader(JsonlSaleStreamReader, DataSourceStreamReader):
        def __init__(self):
            JsonlSaleStreamReader.__init__(self, options)

    return _Reader()


def stream_jsonl_sales(spark, path: str, num_partitions: int | None = None,
                       eq: dict | None = None):
    """Streaming read through the connector: each micro-batch window is
    cut into ``num_partitions`` byte ranges (None: one per task slot,
    ``defaultParallelism``). ``eq`` (r10): column → equality value,
    evaluated INSIDE the stream reader before the Python→JVM boundary
    (the streaming API's options-level analog of the batch reader's
    pushFilters; string equalities additionally engage the bytes-level
    prefilter)."""
    import json

    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    register_jsonl_source(spark)
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", path)
        .option("num_partitions", str(num_partitions))
    )
    if eq:
        reader = reader.option("eq_filters", json.dumps(eq))
    return reader.load()
