from pyspark.sql import functions as F

from de_spark.dictionary import build_dict_and_uids, position_flags, zip_with_index
from de_spark.encode import decode_triples, encode_triples
from de_spark.pipeline import build
from de_spark.sources.turtle import parse_turtle
from de_spark.sources.nt import triples_from_nt_text
from tests.fixtures import APPLE_TTL, BANANA_NT


def apple_raw(spark):
    data = [(s, p, o, "file:///apple.hdt") for s, p, o in parse_turtle(APPLE_TTL)]
    return spark.createDataFrame(data, ["s", "p", "o", "graph"])


def test_zip_with_index_is_global_sort_order(spark):
    df = spark.createDataFrame([(w,) for w in ["pear", "apple", "zoo", "fig"]], ["term"])
    out = {r["term"]: r["idx"] for r in zip_with_index(df, ["term"]).collect()}
    assert out == {"apple": 0, "fig": 1, "pear": 2, "zoo": 3}


def test_four_sections_apple(spark, tmp_path):
    """HDT golden from the reference's tests/resources/apple.hdt header:
    numSharedSubjectObject=1, 2 subjects, 9 objects, 7 predicates —
    read through the stored dictionary's decoded view."""
    kg, _ = build(apple_raw(spark), str(tmp_path / "kg"))
    d = kg.sections()
    by_sec = {r["section"]: r["cnt"] for r in d.groupBy("section").count().withColumnRenamed("count", "cnt").collect()}
    assert by_sec["so"] == 1      # ex:Fruit is both subject and object
    assert by_sec["s"] == 1       # ex:Apple
    assert by_sec["o"] == 8       # 9 distinct objects - 1 shared
    assert by_sec["p"] == 7

    rows = {(r["section"], r["term"]): r["sec_id"] for r in d.collect()}
    # SO ids start at 1; subject-only and object-only continue at n_so+1
    assert rows[("so", "http://example.org/Fruit")] == 1
    assert rows[("s", "http://example.org/Apple")] == 2
    o_ids = sorted(v for (sec, _), v in rows.items() if sec == "o")
    assert o_ids == list(range(2, 10))
    p_ids = sorted(v for (sec, _), v in rows.items() if sec == "p")
    assert p_ids == list(range(1, 8))

    # sections sorted lexicographically by term
    o_terms = [t for (sec, t), v in sorted(rows.items(), key=lambda kv: kv[1]) if sec == "o"]
    assert o_terms == sorted(o_terms)


def test_store_holds_each_term_once(spark, tmp_path):
    """The stored dict holds no term strings (they live in term_uids
    only), and every dict row decodes through term_uids."""
    out = str(tmp_path / "kg")
    kg, _ = build(apple_raw(spark), out)
    assert spark.read.parquet(f"{out}/dict").columns == ["graph", "section", "sec_id", "uid"]
    assert kg.sections().count() == kg.dict_df.count() == 17


def test_void_stats_apple_golden(spark, tmp_path):
    kg, _ = build(apple_raw(spark), str(tmp_path / "kg"))
    row = kg.stats.collect()[0]
    assert (
        row["triples"],
        row["properties"],
        row["distinct_subjects"],
        row["distinct_objects"],
    ) == (9, 7, 2, 9)


def test_encode_decode_roundtrip(spark):
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    _, uids = build_dict_and_uids(position_flags(raw))
    enc = encode_triples(raw, uids)
    assert enc.count() == 12
    dec = decode_triples(enc, uids)
    orig = {(r["s"], r["p"], r["o"]) for r in raw.collect()}
    back = {(r["s"], r["p"], r["o"]) for r in dec.collect()}
    assert orig == back


def test_fused_dict_and_uids_single_pass(spark):
    """build_dict_and_uids: uids are unique, deterministic, and equal
    to 1 + the term's min global index in (graph, sec_ord, term) order
    (sec_ids: test_four_sections_apple)."""
    raw = apple_raw(spark)
    d1, u1 = build_dict_and_uids(position_flags(raw))
    # the dict rows hold uids only: decode them through the uid table
    dict_rows = d1.join(u1, "uid").collect()
    assert len(dict_rows) == d1.count()
    uid_rows = {r["term"]: r["uid"] for r in u1.collect()}

    # uid = 1 + min global index over the term's dict rows
    order = {"so": 0, "s": 1, "o": 2, "p": 3}
    layout = sorted(
        (r["graph"], order[r["section"]], r["term"]) for r in dict_rows
    )
    expect = {}
    for i, (_, _, term) in enumerate(layout):
        expect.setdefault(term, i + 1)
    assert uid_rows == expect
    assert len(set(uid_rows.values())) == len(uid_rows)  # unique

    # encode/decode round-trip through the fused uids
    enc = encode_triples(raw, u1)
    back = {(r["s"], r["p"], r["o"]) for r in decode_triples(enc, u1).collect()}
    assert back == {(r["s"], r["p"], r["o"]) for r in raw.collect()}


def test_uids_are_deterministic(spark, tmp_path):
    """Two builds of the same triples, partitioned differently, assign
    every term the same uid (uids are unique and stable, not dense)."""
    raw = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    builds = [
        build(raw.repartition(n), str(tmp_path / f"kg{n}"))[0] for n in (1, 5)
    ]
    u1, u2 = ({r["term"]: r["uid"] for r in kg.term_uids.collect()} for kg in builds)
    assert u1 == u2
    assert len(set(u1.values())) == len(u1)


def test_base_uids_keep_existing_and_extend_above_max(spark):
    """Building against an existing uid table: terms already in it keep
    their uid, new terms get uids above its max, and every dict row
    decodes to the row a build without the base table gives."""
    banana = triples_from_nt_text(spark, BANANA_NT, "file:///banana.hdt")
    _, base = build_dict_and_uids(position_flags(banana))
    base_rows = {r["term"]: r["uid"] for r in base.collect()}
    max_uid = max(base_rows.values())
    d, u = build_dict_and_uids(
        position_flags(apple_raw(spark)), base_uids=base, max_uid=max_uid
    )
    got = {r["term"]: r["uid"] for r in u.collect()}
    assert len(set(got.values())) == len(got)
    for term, uid in got.items():
        if term in base_rows:
            assert uid == base_rows[term]
        else:
            assert uid > max_uid
    assert {term for term in got if term in base_rows}  # the two share terms

    def decoded(dict_df, uids):
        cols = ("graph", "term", "section", "sec_id")
        return sorted(tuple(r) for r in dict_df.join(uids, "uid").select(*cols).collect())

    alone, alone_uids = build_dict_and_uids(position_flags(apple_raw(spark)))
    assert decoded(d, u) == decoded(alone, alone_uids)
    assert len(decoded(d, u)) == d.count()
