from de_spark import terms


def test_classify_py():
    assert terms.classify_py("http://example.org/Banana") == "iri"
    assert terms.classify_py('"yellow"') == "literal"
    assert terms.classify_py('"true"^^<http://www.w3.org/2001/XMLSchema#boolean>') == "literal"
    assert terms.classify_py("_:b0") == "bnode"


def test_literal_parts():
    assert terms.literal_parts_py('"yellow"') == ("yellow", None, None)
    v, dt, lang = terms.literal_parts_py('"true"^^<http://www.w3.org/2001/XMLSchema#boolean>')
    assert v == "true" and dt == "http://www.w3.org/2001/XMLSchema#boolean" and lang is None
    v, dt, lang = terms.literal_parts_py('"chat"@fr')
    assert v == "chat" and dt is None and lang == "fr"
    v, _, _ = terms.literal_parts_py('"a\\"b\\\\c"')
    assert v == 'a"b\\c'


def test_sql_str_round_trips_through_the_sql_parser(spark):
    """Spark substitutes ``${…}`` variables in SQL text before lexing;
    a string literal must come back byte for byte all the same."""
    from pyspark.sql import functions as F

    texts = [
        "${spark.app.name}", "${env:HOME}", "${system:user.name}", "cost $5", "a$",
        "\\u0024{x}", "it's", 'a\\b"c', "x\ny\tz", "é日本",
    ]
    row = spark.range(1).select(
        *[F.expr(terms.sql_str(t)).alias(f"c{i}") for i, t in enumerate(texts)]
    ).first()
    assert list(row) == texts
