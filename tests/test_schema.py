"""Schema registry: feature bundles, additive-only evolution, build wiring
(MiruSchema.checkAdditive / Type.isAdditiveTo parity)."""

from __future__ import annotations

import pytest

from miru_spark import schema as S


def test_feature_bundles():
    f = S.MiruFieldDefinition(0, "text", "multiTermCardinality")
    assert f.has_feature("indexed") and f.has_feature("cardinality")
    assert not f.has_feature("indexedLatest")
    with pytest.raises(ValueError, match="unknown field type"):
        S.MiruFieldDefinition(0, "x", "notAType")


def test_additive_table_matches_reference():
    # Type.isAdditiveTo, MiruFieldDefinition.java:90-112
    assert S.is_additive_to("nonIndexedNonStored", "multiTerm")
    assert S.is_additive_to("singleTermNonStored", "singleTerm")
    assert S.is_additive_to("multiTermNonStored", "multiTerm")
    assert S.is_additive_to("singleTerm", "singleTermIndexValueBits")
    assert not S.is_additive_to("multiTerm", "singleTerm")
    assert not S.is_additive_to("singleTerm", "multiTerm")


def _docs_schema(*extra):
    return S.MiruSchema(
        "documents",
        2,
        S.fields(
            ("text", "multiTermCardinality"),
            ("lang", "singleTerm"),
            ("source", "singleTerm"),
            ("n_chars", "nonIndexed"),
            *extra,
        ),
    )


def test_additive_evolution_accepts_appends_and_relaxation():
    S.check_additive(S.DOCUMENTS_SCHEMA, _docs_schema(("extra", "singleTerm")))
    relaxed = S.MiruSchema(
        "documents",
        2,
        S.fields(
            ("text", "multiTermCardinality"),
            ("lang", "singleTermNonStored"),  # singleTerm → NonStored is additive
            ("source", "singleTerm"),
            ("n_chars", "nonIndexed"),
        ),
    )
    S.check_additive(S.DOCUMENTS_SCHEMA, relaxed)


def test_non_additive_evolution_rejected():
    shrunk = S.MiruSchema("documents", 2, S.fields(("text", "multiTermCardinality")))
    with pytest.raises(ValueError, match="field count shrank"):
        S.check_additive(S.DOCUMENTS_SCHEMA, shrunk)
    retyped = S.MiruSchema(
        "documents",
        2,
        S.fields(
            ("text", "multiTermCardinality"),
            ("lang", "multiTerm"),  # singleTerm → multiTerm is NOT additive
            ("source", "singleTerm"),
            ("n_chars", "nonIndexed"),
        ),
    )
    with pytest.raises(ValueError, match="non-additive"):
        S.check_additive(S.DOCUMENTS_SCHEMA, retyped)


def test_registry_refuses_unregistered_and_bad_evolution():
    S._REGISTRY.pop("t_reg", None)
    with pytest.raises(KeyError, match="not registered"):
        S.get_schema("t_reg")
    v1 = S.MiruSchema("t_reg", 1, S.fields(("text", "multiTermCardinality"), ("a", "singleTerm")))
    S.register_schema(v1)
    assert S.get_schema("t_reg") is v1
    bad = S.MiruSchema("t_reg", 2, S.fields(("text", "multiTermCardinality"), ("a", "multiTerm")))
    with pytest.raises(ValueError, match="non-additive"):
        S.register_schema(bad)


def test_schema_drives_build(documents):
    from miru_spark.operators.build import build_index

    idx = build_index(
        documents, dense_id_col="doc_id", capacity=256, schema=S.DOCUMENTS_SCHEMA
    )
    # text field and aux fields came from the schema
    assert idx.aux is not None
    aux_terms = {r["t"] for r in idx.aux.selectExpr("split(term, ':')[0] AS t").distinct().collect()}
    assert aux_terms == {"lang", "source"}
    assert idx.stats.count() > 0


def test_schema_missing_field_rejected(spark, tmp_path):
    # both builders resolve fields through schema.resolve_fields
    from miru_spark.index_store import build_persistent
    from miru_spark.operators.build import build_index

    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="missing from"):
        build_index(df, dense_id_col="text", capacity=8, schema=S.DOCUMENTS_SCHEMA)
    with pytest.raises(ValueError, match="missing from"):
        build_persistent(
            df, str(tmp_path / "idx"), dense_id_col="text", capacity=8,
            schema=S.DOCUMENTS_SCHEMA,
        )
    assert not (tmp_path / "idx").exists()  # rejected before any write


def test_numeric_prefix_fields_drive_range_scannable_aux(spark, documents):
    # a numeric-prefix schema field lands in numeric_aux_fields and makes
    # field:[lo TO hi] work through the schema-driven build
    from miru_spark.filters import parse_query
    from miru_spark.operators import fulltext
    from miru_spark.operators.build import build_index

    sch = S.MiruSchema(
        "documents_num",
        1,
        S.fields(
            ("text", "multiTermCardinality"),
            ("lang", "singleTerm"),
            ("n_chars", "singleTermNonStored", "numeric"),
        ),
    )
    assert sch.numeric_fields() == ["n_chars"]
    assert "n_chars" not in sch.aux_fields()
    idx = build_index(documents, dense_id_col="doc_id", capacity=256, schema=sch)
    got = {
        r["doc"]
        for r in fulltext.top_k(
            idx, parse_query("spark AND n_chars:[200 TO 400]", k=1000)
        ).collect()
    }
    pdf = documents.toPandas()
    import re as _re

    want = {
        int(r.doc_id)
        for r in pdf.itertuples()
        if "spark" in set(x for x in _re.split(r"[^a-z0-9_']+", r.text.lower()) if x)
        and 200 <= r.n_chars <= 400
    }
    assert got == want and len(want) > 0
    idx.unpersist()
    # prefix change is a non-additive evolution
    import pytest as _pytest

    changed = S.MiruSchema(
        "documents_num",
        2,
        S.fields(
            ("text", "multiTermCardinality"),
            ("lang", "singleTerm"),
            ("n_chars", "singleTermNonStored"),
        ),
    )
    with _pytest.raises(ValueError, match="prefix"):
        S.check_additive(sch, changed)
