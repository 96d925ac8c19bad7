"""KG construction over the driver's ``documents`` table.

The documents table (doc_id, text, lang, source, n_chars) is the
driver-provided proxy for the source-code corpus (FIXTURES.md §1 note:
source→repo, doc_id→path, text→content).  The extraction here is
deliberately SQL-expressible so the whole pipeline — extraction,
term-uid assignment, four-section dictionary, triple encoding, VOID
stats, BGP joins — has an exact DuckDB oracle in __spark_entry__.py.

Entity model: one named graph per source; doc/source entities;
``mentions`` edges to word entities (words ≥5 chars — the textual
analog of import edges, with the same hub-skew shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_spark.graph import KnowledgeGraph

ENT = "http://example.org/"
CODE = "http://example.org/code#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"

MIN_WORD_LEN = 5


def documents_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → triples_raw (s, p, o, graph).

    r7: the ten per-doc legs (six fixed properties + four modulo-gated
    bnode-annotation triples) are ONE native array-of-structs explode
    over a single scan — the r6 shape was an 11-leg union that scanned
    the documents parquet once per leg and paid per-leg planning and
    task overhead (extract stage of the docs KG at sf1.0: ~4.6s →
    ~2s).  The bnode entries are CASE-null'd into the same array and
    filtered after the explode, so the emitted triple multiset is
    IDENTICAL (pinned by the kg_triples_raw oracle hash; the DuckDB
    twin TRIPLES_SQL below is untouched).  Only the distinct
    source-type leg and the word-mentions explode remain separate."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    graph = F.concat(F.lit("doc:///"), F.col("source"))
    doc_iri = F.concat(F.lit(ENT + "doc/"), F.col("doc_id").cast("string"))
    src_iri = F.concat(F.lit(ENT + "source/"), F.col("source"))

    def t(s, p, o):
        return F.struct(s.alias("s"), F.lit(p).alias("p"), o.alias("o"))

    # typed integer literal per doc (the analog of the reference
    # fixtures' typed integers, tests/resources/superhero.ttl heights)
    # — exercises numeric value semantics + type promotion end-to-end
    nchars_lex = F.concat(
        F.lit('"'), F.col("n_chars").cast("string"), F.lit(f'"^^<{XSD}integer>')
    )
    # deterministic xsd:dateTime per doc (value = f(doc_id)) —
    # exercises instant comparison/ordering through exact oracles
    modified_lex = F.concat(
        F.lit('"'),
        F.format_string(
            "2024-01-%02dT%02d:00:00Z",
            (F.col("doc_id") % 28 + 1).cast("int"),
            (F.col("doc_id") % 24).cast("int"),
        ),
        F.lit(f'"^^<{XSD}dateTime>'),
    )
    # xsd:boolean with MIXED lexical forms ("true"/"1", "false"/"0")
    # so value-equality semantics are observable in the oracles
    long_flag = F.col("n_chars") >= 250
    alt = F.col("doc_id") % 2 == 0
    bool_lex = (
        F.when(long_flag & alt, F.lit("true"))
        .when(long_flag, F.lit("1"))
        .when(alt, F.lit("false"))
        .otherwise(F.lit("0"))
    )
    # Blank-node annotation layer: every 7th doc carries a bnode
    # annotation (doc →annotation→ _:ann, _:ann →score→ int literal),
    # every 14th a second bnode hop (_:ann →detail→ _:det →note→
    # literal).  This gives the corpus the bnode-rich shape Turtle
    # property lists produce (``[ code:score 42 ]``), so DESCRIBE's
    # Concise Bounded Description — recursing through bnode objects —
    # is observable under an exact recursive-CTE oracle.
    ann_lbl = F.concat(F.lit("_:ann"), F.col("doc_id").cast("string"))
    det_lbl = F.concat(F.lit("_:det"), F.col("doc_id").cast("string"))
    mod7 = F.col("doc_id") % 7 == 0
    mod14 = F.col("doc_id") % 14 == 0
    per_doc = F.array(
        t(doc_iri, RDF_TYPE, F.lit(CODE + "Document")),
        t(doc_iri, CODE + "source", src_iri),
        t(doc_iri, CODE + "lang", F.concat(F.lit('"'), F.col("lang"), F.lit('"'))),
        t(doc_iri, CODE + "nChars", nchars_lex),
        t(doc_iri, CODE + "modified", modified_lex),
        t(doc_iri, CODE + "isLong", F.concat(F.lit('"'), bool_lex, F.lit(f'"^^<{XSD}boolean>'))),
        F.when(mod7, t(doc_iri, CODE + "annotation", ann_lbl)),
        F.when(
            mod7,
            t(
                ann_lbl,
                CODE + "score",
                F.concat(
                    F.lit('"'), ((F.col("doc_id") * 13) % 100).cast("string"),
                    F.lit(f'"^^<{XSD}integer>'),
                ),
            ),
        ),
        F.when(mod14, t(ann_lbl, CODE + "detail", det_lbl)),
        F.when(
            mod14,
            t(
                det_lbl,
                CODE + "note",
                F.concat(F.lit('"note-'), (F.col("doc_id") % 10).cast("string"), F.lit('"')),
            ),
        ),
    )
    fixed = (
        docs.select(F.explode(per_doc).alias("e"), graph.alias("graph"))
        .where(F.col("e").isNotNull())
        .select("e.s", "e.p", "e.o", "graph")
    )
    src_type = docs.select(
        src_iri.alias("s"), F.lit(RDF_TYPE).alias("p"),
        F.lit(CODE + "Source").alias("o"), graph.alias("graph"),
    ).distinct()
    words = docs.select(
        doc_iri.alias("s"),
        graph.alias("graph"),
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).alias("w"),
    ).where(F.length("w") >= MIN_WORD_LEN)
    mentions = words.select(
        "s",
        F.lit(CODE + "mentions").alias("p"),
        F.concat(F.lit(ENT + "word/"), F.col("w")).alias("o"),
        "graph",
    )
    return fixed.unionByName(src_type).unionByName(mentions)


_KG_CACHE: dict[str, KnowledgeGraph] = {}
# the on-disk artifact dirs backing each KG, removed at process exit
_KG_ARTIFACT_DIRS: dict[str, str] = {}


def documents_kg(spark: SparkSession, sf_dir: str) -> KnowledgeGraph:
    """Build (and cache per sf_dir) the KG over documents THROUGH THE
    PIPELINE'S WRITE-THEN-LOAD PATH (pipeline.build → parquet →
    KnowledgeGraph.load), exactly what a real deployment queries.

    Loading from parquet matters beyond fidelity: it makes every KG
    frame a LEAF in Catalyst's analyzed plan.  The former in-memory
    variant cached frames whose analyzed plans were the full build
    tree (a many-leg extraction union composed through dict/encode
    joins); queries that reference term_uids/triples several times —
    vocabulary-join chains, decode, and especially iterative closures
    (DESCRIBE's CBD, property paths) — re-walked those giant trees on
    every analysis pass, and single-threaded Catalyst time, not data,
    dominated (observed 100s+ per query at sf0.001).

    The cache is deliberate: every kg_* contract row shares the
    dictionary/triples of one sf_dir."""
    key = sf_dir.rstrip("/")
    if key in _KG_CACHE:
        return _KG_CACHE[key]
    import os
    import tempfile

    from de_spark.pipeline import build

    # ADVICE r6: artifact root is configurable (on a real multi-node
    # cluster it must be a SHARED filesystem — driver-local /tmp is
    # only correct in local mode); the dirs are removed at process exit.
    out = tempfile.mkdtemp(
        prefix="de_docs_kg_", dir=os.environ.get("DE_SPARK_ARTIFACT_DIR")
    )
    if not _KG_ARTIFACT_DIRS:
        import atexit

        atexit.register(_remove_artifact_dirs)
    _KG_ARTIFACT_DIRS[key] = out
    loaded, _ = build(documents_triples(spark, sf_dir), out)
    kg = KnowledgeGraph(
        # uncached: the driver-held dictionary is read from the files
        # this frame lists (graph._snapshot_terms); a cached one lists none
        term_uids=loaded.term_uids,
        dict_df=loaded.dict_df.cache(),
        triples=loaded.triples.cache(),
        stats=loaded.stats.cache(),
        pred_stats=loaded.pred_stats,
    )
    _KG_CACHE[key] = kg
    return kg


def _remove_artifact_dirs() -> None:
    """atexit: delete the on-disk store behind every documents KG."""
    import shutil

    for d in _KG_ARTIFACT_DIRS.values():
        shutil.rmtree(d, ignore_errors=True)


# The same extraction as ANSI SQL (DuckDB oracle) — one CTE reused by
# every kg_* oracle query.
TRIPLES_SQL = f"""
WITH words AS (
  SELECT doc_id, source,
         unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS w
  FROM documents
),
triples AS (
  SELECT '{ENT}doc/' || doc_id AS s, '{RDF_TYPE}' AS p,
         '{CODE}Document' AS o, 'doc:///' || source AS graph
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}source',
         '{ENT}source/' || source, 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT DISTINCT '{ENT}source/' || source, '{RDF_TYPE}',
         '{CODE}Source', 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}lang',
         '"' || lang || '"', 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}nChars',
         '"' || n_chars::VARCHAR || '"^^<{XSD}integer>', 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}modified',
         '"' || printf('2024-01-%02dT%02d:00:00Z',
                       (doc_id % 28 + 1)::INT, (doc_id % 24)::INT)
             || '"^^<{XSD}dateTime>', 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}isLong',
         '"' || CASE WHEN n_chars >= 250 AND doc_id % 2 = 0 THEN 'true'
                     WHEN n_chars >= 250 THEN '1'
                     WHEN doc_id % 2 = 0 THEN 'false'
                     ELSE '0' END
             || '"^^<{XSD}boolean>', 'doc:///' || source
  FROM documents
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}mentions',
         '{ENT}word/' || w, 'doc:///' || source
  FROM words WHERE length(w) >= {MIN_WORD_LEN}
  UNION ALL
  SELECT '{ENT}doc/' || doc_id, '{CODE}annotation',
         '_:ann' || doc_id, 'doc:///' || source
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT '_:ann' || doc_id, '{CODE}score',
         '"' || ((doc_id * 13) % 100)::VARCHAR || '"^^<{XSD}integer>',
         'doc:///' || source
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT '_:ann' || doc_id, '{CODE}detail',
         '_:det' || doc_id, 'doc:///' || source
  FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT '_:det' || doc_id, '{CODE}note',
         '"note-' || (doc_id % 10)::VARCHAR || '"', 'doc:///' || source
  FROM documents WHERE doc_id % 14 = 0
)
"""
