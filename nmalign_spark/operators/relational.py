"""Catalyst-native relational operators from SURVEY.md §2, each paired with
an ANSI-SQL oracle string (DuckDB-runnable) for the driver's correctness
gate.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame; the module
level ``ORACLES`` dict holds the equivalent SQL over the pre-registered
views (region nation customer supplier part orders lineitem events documents
embeddings).  Column names are aliased identically on both sides — the
driver's compare hashes values after sorting columns by name.

Operator IDs reference the SURVEY.md §2 inventory with reference citations.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["QUERIES", "ORACLES", "t", "fan_out"]


def t(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df, want: int | None = None):
    """Ensure a scan has at least ``want`` partitions before a heavy
    narrow stage, WITHOUT the ``df.rdd.getNumPartitions()`` RDD-conversion
    hop: the split count of a file scan is bounded below by its file
    count, so a scan with ``>= want`` files never needs the fan-out, and
    the one-split sf* test parquet gets repartitioned.  A real crawl table
    has thousands of splits and always takes the no-op branch; non-scan
    plans (no input files) are left untouched."""
    spark = df.sparkSession
    want = want or spark.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df
    if 0 < nfiles < want:
        return df.repartition(want)
    return df


def sliding_ngrams(toks, k: int, sep: str = " "):
    """All length-``k`` sliding windows of the ``toks`` array column,
    joined by ``sep``; arrays shorter than ``k`` yield one window of the
    whole array (matching ``GREATEST(n-k+1, 1)`` oracle semantics).

    Why not ``transform(sequence(1, n-k+1), i -> slice(toks, i, k))``:
    a lambda that closes over ``toks`` re-evaluates the whole token
    expression (typically ``split(text)``) for EVERY window — O(n²)
    tokenization per row, visible verbatim in the Generate node of the
    physical plan.  Here ``toks`` appears only as a direct argument of
    ``k`` slices, so it is evaluated O(k) times per row and the windows
    are built by ``zip_with`` over lambda-bound variables only."""
    n = F.size(toks)
    cnt = n - F.lit(k) + 1
    win = F.slice(toks, 1, cnt)
    for i in range(1, k):
        win = F.zip_with(win, F.slice(toks, i + 1, cnt),
                         lambda a, b: F.concat_ws(sep, a, b))
    return F.when(n >= k, win).otherwise(F.array(F.array_join(toks, sep)))


def sliding_ngram_keys(toks, k: int):
    """64-bit GROUPING KEYS for all length-``k`` sliding windows of the
    ``toks`` array column — the window text is never materialized.

    Per-token ``xxhash64`` longs are combined positionally with a
    rotate-13-xor fold (bitwise only, so ANSI-mode Spark cannot overflow;
    a multiplicative fold throws under the default
    ``spark.sql.ansi.enabled=true``).  This replaces
    ``xxhash64(sliding_ngrams(...))``, whose ``k-1`` ``concat_ws`` passes
    allocate ~k intermediate strings per window — the allocation pressure
    BENCH_CURATION_ANALYSIS.md localized as the single-box scaling
    residue of the shingle stages.  The keys are engine-private grouping
    identities (never in results or oracles — oracles group by the window
    TEXT, equivalent modulo ~2^-64 collisions, exactly as with the old
    string hash).  Arrays shorter than ``k`` fold to one whole-array key,
    matching ``sliding_ngrams``'s GREATEST(n-k+1, 1) semantics via
    zip_with's null padding."""
    th = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(th)
    cnt = F.greatest(n - F.lit(k) + 1, F.lit(1))
    win = F.slice(th, 1, cnt)
    for i in range(1, k):
        win = F.zip_with(
            win, F.slice(th, i + 1, cnt),
            lambda a, b: F.when(b.isNull(), a).otherwise(
                F.shiftleft(a, 13)
                .bitwiseOR(F.shiftrightunsigned(a, 51))
                .bitwiseXOR(b)))
    return win


# --- J1: page-ID equi-join (ocrd/cli.py:55-108 zip_input_files) ------------

def j1_page_pairing(spark, sf_dir):
    """Pair 'fileGrp 1' with 'fileGrp 2' per pageId — here customer/orders on
    custkey; small side broadcastable by Catalyst."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "inner")
            .select(F.col("c_custkey").alias("page_key"),
                    F.col("c_name").alias("grp1_file"),
                    F.col("o_orderkey").alias("grp2_file"),
                    F.round("o_totalprice", 2).alias("payload")))


ORACLE_J1 = """
SELECT c_custkey AS page_key, c_name AS grp1_file,
       o_orderkey AS grp2_file, ROUND(o_totalprice, 2) AS payload
FROM customer JOIN orders ON o_custkey = c_custkey
"""


# --- J2: missing-partner anti-join (ocrd/cli.py:101-107) -------------------

def j2_missing_partner(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select(F.col("c_custkey").alias("missing_key")))


ORACLE_J2 = """
SELECT c_custkey AS missing_key FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- R9: duplicate-input detection (ocrd/cli.py:63-67,82-87) ---------------

def r9_duplicate_check(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    return (orders.groupBy(F.col("o_custkey").alias("page_key"))
            .agg(F.count(F.lit(1)).alias("n_files"))
            .where(F.col("n_files") > 1))


ORACLE_R9 = """
SELECT o_custkey AS page_key, COUNT(*) AS n_files
FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
"""


# --- P4 + F8: tokenization/explode + empty filter (ocrd/cli.py:219-226) ----

def p4_token_filter(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (tok.where(F.trim("tok") != "")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens")))


ORACLE_P4 = """
SELECT doc_id, COUNT(*) AS n_tokens
FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
WHERE TRIM(tok) != '' GROUP BY doc_id
"""


# --- F4: normalized Levenshtein similarity via built-ins (align.py:5,60) ---

def f4_lev_similarity(spark, sf_dir):
    """SQL-checkable probe of the similarity semantics: both Spark and DuckDB
    ship classic uniform-cost levenshtein built-ins (SURVEY.md §2.7 F4).
    Pairs adjacent documents; strings capped for O(n*m) cost control."""
    d = t(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("id1"),
                 F.substring("text", 1, 60).alias("t1"))
    b = d.select((F.col("doc_id") - 1).alias("id1"),
                 F.substring("text", 1, 60).alias("t2"))
    j = a.join(b, "id1", "inner")
    sim = 1.0 - F.levenshtein("t1", "t2") / F.greatest(F.length("t1"), F.length("t2"))
    return j.select("id1", F.round(sim, 6).alias("sim"))


ORACLE_F4 = """
SELECT a.doc_id AS id1,
       ROUND(1.0 - levenshtein(substr(a.text,1,60), substr(b.text,1,60))
             / GREATEST(LENGTH(substr(a.text,1,60)), LENGTH(substr(b.text,1,60))), 6) AS sim
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


# --- A1/A2-style aggregate over scores (cli.py:123-126) --------------------

def a1_avg_similarity(spark, sf_dir):
    sims = f4_lev_similarity(spark, sf_dir)
    d = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id1"), "lang")
    return (sims.join(d, "id1")
            .groupBy("lang")
            .agg(F.round(F.avg("sim"), 6).alias("avg_sim"),
                 F.count(F.lit(1)).alias("n_pairs")))


ORACLE_A1 = f"""
WITH sims AS ({ORACLE_F4})
SELECT lang, ROUND(AVG(sim), 6) AS avg_sim, COUNT(*) AS n_pairs
FROM sims JOIN documents ON documents.doc_id = sims.id1
GROUP BY lang
"""


# --- A2: coverage = distinct-matched / total (cli.py:96-126) ----------------

def a2_coverage(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events"))
            .withColumn("events_per_user",
                        F.round(F.col("n_events") / F.col("n_users"), 6)))


ORACLE_A2 = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
       ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT user_id), 6) AS events_per_user
FROM events GROUP BY event_type
"""


# --- A3: corpus rollup (ocrd/cli.py:111-118,274-276) ------------------------

def a3_rollup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (d.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("n_chars"), 4).alias("avg_chars"))
            .select(F.coalesce("lang", F.lit("ALL")).alias("lang"),
                    F.coalesce("source", F.lit("ALL")).alias("source"),
                    "n_docs", "avg_chars"))


ORACLE_A3 = """
SELECT COALESCE(lang, 'ALL') AS lang, COALESCE(source, 'ALL') AS source,
       COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


# --- E2: index-set difference (ocrd/cli.py:235) -----------------------------

def e2_set_difference(spark, sf_dir):
    part = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    return (part.join(li, part.p_partkey == li.l_partkey, "left_anti")
            .select(F.col("p_partkey").alias("unmatched_key")))


ORACLE_E2 = """
SELECT p_partkey AS unmatched_key FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


# --- F7: substring slice, 1-based (cli.py:105-106) --------------------------

def f7_substring_slice(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", F.substring("text", 11, 20).alias("sliced"))


ORACLE_F7 = "SELECT doc_id, substr(text, 11, 20) AS sliced FROM documents"


# --- W1: index renumbering window (ocrd/cli.py:242-243,257-258) -------------

def w1_index_renumber(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return d.select("doc_id", "source",
                    F.row_number().over(w).alias("idx"))


ORACLE_W1 = """
SELECT doc_id, source,
       ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS idx
FROM documents
"""


# --- W2: neighbour-pair window (ocrd/cli.py:382-385 zip(sub, sub[1:])) ------

def w2_neighbor_pairs(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (d.select("doc_id", "source", "n_chars",
                     F.lag("n_chars").over(w).alias("prev_chars"))
            .where(F.col("prev_chars").isNotNull())
            .select("doc_id", "source",
                    (F.col("n_chars") - F.col("prev_chars")).alias("delta_chars")))


ORACLE_W2 = """
SELECT doc_id, source, n_chars - prev_chars AS delta_chars
FROM (SELECT doc_id, source, n_chars,
             LAG(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS prev_chars
      FROM documents)
WHERE prev_chars IS NOT NULL
"""


# --- O4: ordered collect (plaintext file ordering, ocrd/cli.py:210) ---------

def o4_ordered_collect(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    first_word = F.element_at(F.split("text", " "), 1)
    return (d.select("source", "doc_id", first_word.alias("w"))
            .groupBy("source")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "w"))),
                    lambda s: s.getField("w")),
                ",").alias("ordered_words")))


ORACLE_O4 = """
SELECT source,
       STRING_AGG(string_split(text, ' ')[1], ',' ORDER BY doc_id) AS ordered_words
FROM documents GROUP BY source
"""


# --- S1: inline-strings source (scripts/cli.py:23,33,66-67) -----------------

def s1_inline_source(spark, sf_dir):
    rows = [("inline", 1, 0, "erste Zeile"), ("inline", 1, 1, "zweite Zeile"),
            ("inline", 2, 0, "Erste Zeile!"), ("inline", 2, 1, "Zweyte Zeile")]
    return spark.createDataFrame(
        rows, schema="url string, side int, seq_no int, seg_text string")


ORACLE_S1 = """
SELECT * FROM (VALUES
  ('inline', 1, 0, 'erste Zeile'), ('inline', 1, 1, 'zweite Zeile'),
  ('inline', 2, 0, 'Erste Zeile!'), ('inline', 2, 1, 'Zweyte Zeile'))
AS v(url, side, seq_no, seg_text)
"""


# --- S2/S3: file-per-string + filelist sources (cli.py:24-25,34-35,69-77) ---

def _materialize_string_files(sf_dir: str, n: int = 20) -> list[str]:
    """Deterministic fixture files for the S2/S3 sources: one UTF-8 text file
    per document (first ``n`` docs by doc_id), content = the text column.
    Derived from driver parquet so the DuckDB oracle can reconstruct the
    same strings from the ``documents`` view."""
    import duckdb as _duckdb
    from pathlib import Path as _Path
    tag = sf_dir.rstrip("/").replace("/", "_")
    root = _Path(f"/tmp/nmalign_s2{tag}")
    paths = []
    rows = _duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT {n}").fetchall()
    root.mkdir(parents=True, exist_ok=True)
    for doc_id, text in rows:
        p = root / f"doc_{int(doc_id):06d}.txt"
        # always rewrite (files are tiny): skipping existing files would
        # serve stale fixtures if the sf corpus were ever regenerated with
        # different text, making the oracle comparison fail (or pass)
        # spuriously
        p.write_text(text, encoding="utf-8")
        paths.append(str(p))
    return paths


def s2_files_source(spark, sf_dir):
    """S2: one text file per string (--files1/--files2): wholetext read +
    input_file_name keeps the file->string mapping; order = given path
    order (cli.py:71,77)."""
    from ..sources.segments import files_df
    paths = _materialize_string_files(sf_dir)
    return files_df(spark, paths, side=1).select("seq_no", "seg_text")


ORACLE_S2 = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS INT) AS seq_no,
       text AS seg_text
FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
"""


def s3_filelist_source(spark, sf_dir):
    """S3: a text file listing one path per line (--filelist1/--filelist2)."""
    from ..sources.segments import filelist_df
    paths = _materialize_string_files(sf_dir)
    listfile = f"{'/'.join(paths[0].split('/')[:-1])}/filelist.txt"
    with open(listfile, "w", encoding="utf-8") as f:
        f.write("\n".join(paths) + "\n")
    return filelist_df(spark, listfile, side=2).select("seq_no", "seg_text")


ORACLE_S3 = ORACLE_S2


# --- S4-analogue: PDF layout parse roundtrip (sources/pdf.py) ---------------

def s4_pdf_roundtrip(spark, sf_dir):
    """Deterministic Flate-compressed PDFs built from each document's text,
    pushed through the content-stream parser; the oracle is the identity on
    the source text (roundtrip must be byte-exact for this corpus).  The
    whole generate+parse runs as one narrow ``mapInPandas``."""
    import pandas as pd

    from ..sources.pdf import extract_pdf_segments, make_simple_pdf

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs)

    def gen(batches):
        for pdf in batches:
            ids, seqs, segs = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                blob = make_simple_pdf([text], compress=True)
                for k, seg in enumerate(extract_pdf_segments(blob)):
                    ids.append(int(doc_id))
                    seqs.append(k)
                    segs.append(seg)
            yield pd.DataFrame({"doc_id": ids, "seq_no": seqs,
                                "seg_text": segs})

    return docs.mapInPandas(gen,
                            schema="doc_id long, seq_no int, seg_text string")


ORACLE_S4_PDF = """
SELECT doc_id, 0 AS seq_no, text AS seg_text FROM documents
"""


def s4_pdf_metrics(spark, sf_dir):
    """Extraction-diagnostics surface (pdf_metrics_df): each document
    rendered to a Flate PDF, one with a corrupted zlib header per
    ``doc_id % 5 == 0`` (counted as flate_errors=1, segments=0) — the
    unsupported/poison share of a crawl shows up in counters, never as an
    executor exception."""
    import pandas as pd

    from ..sources.pdf import make_simple_pdf, pdf_metrics_df

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                blob = bytearray(make_simple_pdf([text], compress=True))
                if int(doc_id) % 5 == 0:
                    i = blob.find(b"stream\n") + len(b"stream\n")
                    blob[i:i + 4] = b"\x00\xff\x00\xff"
                rows.append((f"pdf://{int(doc_id)}", bytes(blob)))
            yield pd.DataFrame(rows, columns=["url", "html"])

    pages = docs.mapInPandas(gen, schema="url string, html binary")
    return pdf_metrics_df(pages)


ORACLE_S4_PDF_METRICS = """
SELECT 'pdf://' || CAST(doc_id AS VARCHAR) AS url,
       1 AS is_pdf, 0 AS encrypted, 0 AS object_streams, 0 AS type0_fonts,
       1 AS streams,
       CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS flate_errors,
       0 AS truncated_streams,
       CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS text_blocks,
       CASE WHEN doc_id % 5 = 0 THEN 0 ELSE 1 END AS segments
FROM documents
"""


def s4_pagexml_lines(spark, sf_dir):
    """S4 fidelity roundtrip: deterministic PAGE-XML built from each
    document's text (three shapes per ``doc_id % 4``: region-fallback with
    CRLF-joined TextEquiv, NESTED regions probing the get_AllTextLines
    traversal order, flat lines with @conf attributes + a junk second
    TextEquiv the reader must ignore), parsed back by the real stdlib
    reader (sources/pagexml.py, reference semantics ocrd/cli.py:187-215,
    293-304).  The oracle derives the expected lines from ``documents.text``
    in pure SQL — escaping, traversal order, first-TextEquiv projection,
    conf defaulting and the CRLF region split are all under the hash."""
    import pandas as pd

    from ..sources.pagexml import make_page_xml, pagexml_segments_df

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                lines = [" ".join(words[j * 5:j * 5 + 5]) + " & co"
                         for j in range((len(words) - 1) // 5 + 1)]
                mode = int(doc_id) % 4
                if mode == 0:
                    xml = make_page_xml(lines, region_fallback=True)
                elif mode == 1:
                    xml = make_page_xml(lines, nested=True, junk_equiv=True)
                else:
                    xml = make_page_xml(
                        lines, junk_equiv=True,
                        confs=[(8 + j % 5) / 16 for j in range(len(lines))])
                rows.append((f"pagexml://{int(doc_id)}", xml.encode()))
            yield pd.DataFrame(rows, columns=["url", "xml"])

    pages = docs.mapInPandas(gen, schema="url string, xml binary")
    return pagexml_segments_df(pages).select(
        "url", "seq_no", "seg_text", "line_id", "conf")


ORACLE_S4_PAGEXML = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
l AS (
  SELECT doc_id, CAST(j AS INT) AS j,
         array_to_string(list_slice(toks, j * 5 + 1, j * 5 + 5), ' ')
           || ' & co' AS line
  FROM d, UNNEST(range(0, CAST(floor((len(toks) - 1) / 5) AS INT) + 1)) r(j)
),
ordered AS (
  -- nested shape (doc_id % 4 = 1): outer region holds even lines, nested
  -- region the odd ones -> document order is evens then odds
  SELECT doc_id, j, line,
         CASE WHEN doc_id % 4 = 1 THEN (j % 2) * 100000 + j ELSE j END AS ord
  FROM l
)
SELECT 'pagexml://' || CAST(doc_id AS VARCHAR) AS url,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
            AS INT) AS seq_no,
       line AS seg_text,
       CASE WHEN doc_id % 4 = 0 THEN printf('r0_l%04d', j)
            ELSE printf('l%04d', j) END AS line_id,
       CASE WHEN doc_id % 4 IN (0, 1) THEN 1.0
            ELSE (8 + j % 5) / 16.0 END AS conf
FROM ordered
"""


def k2_pagexml_merge(spark, sf_dir):
    """K2 fidelity end-to-end: deterministic PAGE-XML pages (flat lines
    with @conf + a junk second TextEquiv) are segmented, force-aligned by
    the REAL ``align_segments`` kernel against marker-provable identical
    reference lines (the u1 identity construction, so j = i and score = 1.0
    are SQL-derivable), merged back into the XML
    (sinks/pagexml_merge.py — reference ocrd/cli.py:240-290), reserialized
    and reparsed.  The oracle reconstructs every TextEquiv of every line:
    the inserted @index=0 (conf=score, dataType=other,
    dataTypeDetails=GT/line%04d), the renumbered original (@index=1, the
    generator's conf), and the junk equiv (@index=2) — insertion position,
    renumbering, details naming and the serialize/parse roundtrip are all
    under the hash (the region re-roll runs too; its values are gated
    separately by ``a4_hierarchy_rollup``)."""
    import pandas as pd

    from ..operators.align import align_segments
    from ..sinks.pagexml_merge import merge_pages_df, parse_line_equivs
    from ..sources.pagexml import make_page_xml, pagexml_segments_df

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = fan_out(docs)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ")
                lines = [" ".join(words[j * 5:j * 5 + 5]) + f" #{j}"
                         for j in range((len(words) - 1) // 5 + 1)]
                xml = make_page_xml(
                    lines, junk_equiv=True,
                    confs=[(8 + j % 5) / 16 for j in range(len(lines))])
                rows.append((f"pagexml://{int(doc_id)}", xml.encode()))
            yield pd.DataFrame(rows, columns=["url", "xml"])

    pages = docs.mapInPandas(gen, schema="url string, xml binary")
    segs = pagexml_segments_df(pages, side=1).unionByName(
        pagexml_segments_df(pages, side=2)) \
        .select("url", "side", "seq_no", "seg_text")
    aligned = align_segments(segs, try_subseg=True)
    merged = merge_pages_df(pages, aligned, other_grp="GT")

    def parse_back(batches):
        for pdf in batches:
            rows = []
            for url, xml_b in zip(pdf["url"], pdf["xml"]):
                for (lid, pos, idx, text, conf, dt, dtd) \
                        in parse_line_equivs(xml_b):
                    # absent attributes as sentinels, not NULLs: the gate
                    # sorts rows by value, and NULL ordering is the one
                    # thing engines/compare layers disagree on
                    rows.append((url, lid, pos, idx, text,
                                 -1.0 if conf is None else conf,
                                 dt or "", dtd or ""))
            yield pd.DataFrame(rows, columns=[
                "url", "line_id", "pos", "te_index", "unicode", "conf",
                "data_type", "details"])

    return merged.mapInPandas(
        parse_back,
        schema=("url string, line_id string, pos int, te_index int, "
                "unicode string, conf double, data_type string, "
                "details string"))


ORACLE_K2_MERGE = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
l AS (
  SELECT doc_id, CAST(j AS INT) AS j,
         array_to_string(list_slice(toks, j * 5 + 1, j * 5 + 5), ' ')
           || ' #' || j AS line
  FROM d, UNNEST(range(0, CAST(floor((len(toks) - 1) / 5) AS INT) + 1)) r(j)
),
equivs AS (
  SELECT doc_id, j, line, 0 AS pos, 0 AS te_index, line AS unicode,
         1.0 AS conf, 'other' AS data_type,
         'GT/' || printf('line%04d', j) AS details
  FROM l
  UNION ALL
  SELECT doc_id, j, line, 1, 1, line, (8 + j % 5) / 16.0, '', '' FROM l
  UNION ALL
  SELECT doc_id, j, line, 2, 2, 'JUNK-IGNORE', -1.0, '', '' FROM l
)
SELECT 'pagexml://' || CAST(doc_id AS VARCHAR) AS url,
       printf('l%04d', j) AS line_id,
       pos, te_index, unicode, conf, data_type, details
FROM equivs
"""


def s7_mets_workspace(spark, sf_dir):
    """S7 fidelity: real METS workspace scan + zip_input_files pairing
    (ocrd/cli.py:48-108) over deterministic METS XML built from the
    documents table — one workspace per 10 docs, one OCR PAGE file per
    page, and a GT side that cycles through the reference's cases by
    ``doc_id % 5``: 0 = one plaintext plus an image/png file the
    ``//(PAGE|text/plain)`` mimetype filter must drop; 1 = TWO plaintext
    files (sorted-filename append path, cli.py:88-91,210); 2 = a PAGE
    partner; 3 = no partner at all (page dropped, cli.py:101-107);
    4 = one plaintext.  Every workspace also carries a document-global
    file per grp (no structMap div -> null pageId, skipped per
    cli.py:60-62) and an untouched IMG fileGrp.  The oracle reconstructs
    the exact pairing in SQL, so grp/mimetype filtering, structMap
    page-id resolution, global-file skipping, missing-partner dropping
    and sorted-filename aggregation are all under the hash."""
    import pandas as pd

    from ..sources.mets import (MIMETYPE_PAGE, make_mets_xml, mets_files_df,
                                zip_workspace_files)

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") / 10).cast("long").alias("ws"))

    def build(key, pdf):
        ws = int(key[0])
        pages, globals_ = [], [
            ("OCR", f"OCRG_{ws}", MIMETYPE_PAGE, f"OCR/global_{ws}.xml"),
            ("GT", f"GTG_{ws}", "text/plain", f"GT/global_{ws}.txt")]
        for doc_id in sorted(int(d) for d in pdf["doc_id"]):
            fs = [("OCR", f"OCR_{doc_id:06d}", MIMETYPE_PAGE,
                   f"OCR/{doc_id:06d}.xml"),
                  ("IMG", f"IMG_{doc_id:06d}", "image/png",
                   f"IMG/{doc_id:06d}.png")]
            mode = doc_id % 5
            if mode in (0, 4):
                fs.append(("GT", f"GT_{doc_id:06d}_0", "text/plain",
                           f"GT/{doc_id:06d}_0.txt"))
            if mode == 0:
                fs.append(("GT", f"GTI_{doc_id:06d}", "image/png",
                           f"GT/{doc_id:06d}.png"))
            elif mode == 1:
                fs += [("GT", f"GT_{doc_id:06d}_{k}", "text/plain",
                        f"GT/{doc_id:06d}_{k}.txt") for k in (0, 1)]
            elif mode == 2:
                fs.append(("GT", f"GT_{doc_id:06d}", MIMETYPE_PAGE,
                           f"GT/{doc_id:06d}.xml"))
            pages.append((f"PHYS_{doc_id:06d}", fs))
        xml = make_mets_xml(pages, global_files=globals_)
        return pd.DataFrame({"workspace": [f"mets://{ws}"],
                             "mets": [xml.encode()]})

    workspaces = docs.groupBy("ws").applyInPandas(
        build, schema="workspace string, mets binary")
    return zip_workspace_files(mets_files_df(workspaces), "OCR", "GT")


ORACLE_S7_METS = """
SELECT 'mets://' || CAST(CAST(floor(doc_id / 10) AS BIGINT) AS VARCHAR)
         AS workspace,
       printf('PHYS_%06d', doc_id) AS page_id,
       printf('OCR_%06d', doc_id) AS page_file,
       printf('OCR/%06d.xml', doc_id) AS page_href,
       CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS INT)
         AS other_is_page,
       CAST(CASE WHEN doc_id % 5 = 1 THEN 2 ELSE 1 END AS INT) AS n_other,
       CASE doc_id % 5
            WHEN 1 THEN printf('GT_%06d_0,GT_%06d_1', doc_id, doc_id)
            WHEN 2 THEN printf('GT_%06d', doc_id)
            ELSE printf('GT_%06d_0', doc_id) END AS other_files,
       CASE doc_id % 5
            WHEN 1 THEN printf('GT/%06d_0.txt,GT/%06d_1.txt', doc_id, doc_id)
            WHEN 2 THEN printf('GT/%06d.xml', doc_id)
            ELSE printf('GT/%06d_0.txt', doc_id) END AS other_hrefs
FROM documents
WHERE doc_id % 5 <> 3
"""


# --- U1 (SQL-checkable core): identity alignment through the REAL kernel ----

_IDENT_CHUNK = 6


def u1_align_identity(spark, sf_dir):
    """Runs the full alignment kernel on provably-identity inputs so its
    output is SQL-derivable and hash-checked (the only way to put the
    non-relational greedy kernel behind the DuckDB gate): both sides are the
    SAME chunked lines with a uniqueness marker, so the correct assignment
    is exactly i -> i, score 1.0, whole-line.  Exercises the real code path
    end to end — segments shuffle, streaming kernel, batched similarity
    scoring, greedy loop, output plumbing; any indexing/ordering/score
    regression breaks the hash."""
    from .align import align_segments

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    n = F.size(toks)
    ch = _IDENT_CHUNK
    lines = F.transform(
        F.sequence(F.lit(0), F.floor((n - 1) / ch).cast("int")),
        lambda i: F.concat(
            F.array_join(F.slice(toks, i * ch + 1, ch), " "),
            F.lit(" #"), i.cast("string")))
    chunked = docs.select(F.col("doc_id").cast("string").alias("url"),
                          F.posexplode(lines).alias("seq_no", "seg_text"))
    segs = chunked.select("url", F.lit(1).alias("side"), "seq_no", "seg_text") \
        .unionByName(chunked.select("url", F.lit(2).alias("side"),
                                    "seq_no", "seg_text"))
    return align_segments(segs)


ORACLE_U1_IDENTITY = f"""
WITH chunked AS (
  SELECT CAST(doc_id AS VARCHAR) AS url, CAST(i AS INT) AS seq_no,
         array_to_string(list_slice(string_split(text, ' '),
                                    i * {_IDENT_CHUNK} + 1,
                                    i * {_IDENT_CHUNK} + {_IDENT_CHUNK}), ' ')
           || ' #' || i AS seg_text
  FROM documents,
       UNNEST(range(0, CAST(floor((len(string_split(text, ' ')) - 1)
                                  / {_IDENT_CHUNK}) AS INT) + 1)) AS r(i)
)
SELECT url, seq_no AS i, seq_no AS j, seq_no AS line_no,
       -1 AS beg, -1 AS "end", 1.0 AS score,
       seg_text, seg_text AS extracted
FROM chunked
"""


# --- P1/F1: normalization preprocess chain (align.py:54-59) -----------------
# SQL-checkable probe of the *chain* semantics (replacements applied in
# insertion order, each seeing the previous output).  The full preprocess
# (Python-re + NFKC, align.py:58) is not SQL-expressible and lives in the
# Arrow kernel (functions/normalize.py), unit-tested in pytest.

def p1_normalize_chain(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    s = F.substring("text", 1, 80)
    s = F.regexp_replace(s, "row", "line")   # step 1
    s = F.regexp_replace(s, "line", "zeile")  # step 2 sees step 1 output
    return d.select("doc_id", s.alias("norm_text"))


ORACLE_P1 = """
SELECT doc_id,
       regexp_replace(regexp_replace(substr(text, 1, 80),
                                     'row', 'line', 'g'),
                      'line', 'zeile', 'g') AS norm_text
FROM documents
"""


# --- P2/P3: first-TextEquiv + confidence projections (ocrd/cli.py:293-304) --

def p2_first_equiv(spark, sf_dir):
    """element_at(split)[first] with '' default (P2) + coalesce-to-1.0
    confidence (P3)."""
    d = t(spark, sf_dir, "documents")
    first = F.coalesce(F.element_at(F.split("text", " "), 1), F.lit(""))
    conf = F.coalesce(F.nullif("lang", F.lit("")), F.lit("und"))
    return d.select("doc_id", first.alias("first_equiv"), conf.alias("conf_lang"))


ORACLE_P2 = """
SELECT doc_id,
       COALESCE(string_split(text, ' ')[1], '') AS first_equiv,
       COALESCE(NULLIF(lang, ''), 'und') AS conf_lang
FROM documents
"""


# --- F8/S6: positional line split (splitlines + posexplode,
#     ocrd/cli.py:206-215) ---------------------------------------------------

def f8_split_posexplode(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (d.select("doc_id", F.posexplode(F.split("text", " "))
                     .alias("pos", "tok"))
            .where(F.col("pos") < 12))


ORACLE_F8 = """
SELECT doc_id, pos, tok FROM (
  SELECT doc_id,
         CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
         UNNEST(l) AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents))
WHERE pos < 12
"""


# --- O5: reading-order sort with conditional reversal
#     (ocrd/cli.py:376-410: bottom-to-top / RTL lines reversed) --------------

def o5_reading_order(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang",
                    F.posexplode(F.split("text", " ")).alias("pos", "tok")) \
            .where(F.col("pos") < 8)
    order_key = F.when(F.col("lang") == "zh", -F.col("pos")) \
                 .otherwise(F.col("pos"))
    w = Window.partitionBy("doc_id").orderBy(order_key)
    return toks.select("doc_id", "pos", "tok",
                       F.row_number().over(w).alias("reading_pos"))


ORACLE_O5 = """
SELECT doc_id, pos, tok,
       ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY CASE WHEN lang = 'zh' THEN -pos
                                        ELSE pos END) AS reading_pos
FROM (
  SELECT doc_id, lang,
         CAST(generate_subscripts(l, 1) - 1 AS INT) AS pos,
         UNNEST(l) AS tok
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents))
WHERE pos < 8
"""


# --- K1/F11: formatted TSV sink rows (cli.py:93-122 '%.2f' scores) ----------

def k1_tsv_rows(spark, sf_dir):
    pairs = f4_lev_similarity(spark, sf_dir)
    return pairs.select(
        F.format_string("%d\t%.2f", F.col("id1"), F.col("sim")).alias("tsv"))


ORACLE_K1 = """
SELECT printf('%d\t%.2f', id1, sim) AS tsv FROM (
  SELECT a.doc_id AS id1,
         ROUND(1.0 - levenshtein(substr(a.text,1,60), substr(b.text,1,60))
               / GREATEST(LENGTH(substr(a.text,1,60)),
                          LENGTH(substr(b.text,1,60))), 6) AS sim
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1)
"""


QUERIES = {
    "j1_page_pairing": j1_page_pairing,
    "j2_missing_partner": j2_missing_partner,
    "r9_duplicate_check": r9_duplicate_check,
    "p4_token_filter": p4_token_filter,
    "f4_lev_similarity": f4_lev_similarity,
    "a1_avg_similarity": a1_avg_similarity,
    "a2_coverage": a2_coverage,
    "a3_rollup": a3_rollup,
    "e2_set_difference": e2_set_difference,
    "f7_substring_slice": f7_substring_slice,
    "w1_index_renumber": w1_index_renumber,
    "w2_neighbor_pairs": w2_neighbor_pairs,
    "o4_ordered_collect": o4_ordered_collect,
    "s1_inline_source": s1_inline_source,
    "s2_files_source": s2_files_source,
    "s3_filelist_source": s3_filelist_source,
    "s4_pdf_roundtrip": s4_pdf_roundtrip,
    "s4_pagexml_lines": s4_pagexml_lines,
    "s4_pdf_metrics": s4_pdf_metrics,
    "s7_mets_workspace": s7_mets_workspace,
    "k2_pagexml_merge": k2_pagexml_merge,
    "u1_align_identity": u1_align_identity,
    "p1_normalize_chain": p1_normalize_chain,
    "p2_first_equiv": p2_first_equiv,
    "f8_split_posexplode": f8_split_posexplode,
    "o5_reading_order": o5_reading_order,
    "k1_tsv_rows": k1_tsv_rows,
}

ORACLES = {
    "j1_page_pairing": ORACLE_J1,
    "j2_missing_partner": ORACLE_J2,
    "r9_duplicate_check": ORACLE_R9,
    "p4_token_filter": ORACLE_P4,
    "f4_lev_similarity": ORACLE_F4,
    "a1_avg_similarity": ORACLE_A1,
    "a2_coverage": ORACLE_A2,
    "a3_rollup": ORACLE_A3,
    "e2_set_difference": ORACLE_E2,
    "f7_substring_slice": ORACLE_F7,
    "w1_index_renumber": ORACLE_W1,
    "w2_neighbor_pairs": ORACLE_W2,
    "o4_ordered_collect": ORACLE_O4,
    "s1_inline_source": ORACLE_S1,
    "s2_files_source": ORACLE_S2,
    "s3_filelist_source": ORACLE_S3,
    "s4_pdf_roundtrip": ORACLE_S4_PDF,
    "s4_pagexml_lines": ORACLE_S4_PAGEXML,
    "s4_pdf_metrics": ORACLE_S4_PDF_METRICS,
    "s7_mets_workspace": ORACLE_S7_METS,
    "k2_pagexml_merge": ORACLE_K2_MERGE,
    "u1_align_identity": ORACLE_U1_IDENTITY,
    "p1_normalize_chain": ORACLE_P1,
    "p2_first_equiv": ORACLE_P2,
    "f8_split_posexplode": ORACLE_F8,
    "o5_reading_order": ORACLE_O5,
    "k1_tsv_rows": ORACLE_K1,
}
