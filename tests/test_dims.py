"""The broadcast dims are JVM-local relations with pinned content.

Each default dim must plan as a ``LocalRelation`` (so scanning it starts no
Python worker) and keep its pinned content signature. The stage
fingerprints hash the dims' driver rows (``dims.fingerprints``), not this
signature, so the pin guards the dims' content: a changed row is a
deliberate edit of the resources every build grounds against.
"""

import pytest
from pyspark.sql import types as T

from indra_db_spark import schemas
from indra_db_spark.session import local_df
from indra_db_spark.sources import dims
from indra_db_spark.sources import lexicon as LX
from indra_db_spark.sources.storage import _content_signature

# (dim builder, its lexicon rows, pinned content signature)
DIMS = {
    "grounding_map": (
        dims.grounding_map_df, LX.grounding_rows, (62, 17219892736440087398)
    ),
    "source_priors": (
        dims.source_priors_df, LX.prior_rows, (20, 2597193481397517210)
    ),
    "isa_closure": (
        dims.isa_closure_df, dims.isa_closure, (11, 1314795585577340104)
    ),
}


@pytest.mark.parametrize("name", sorted(DIMS))
def test_default_dim_is_local_relation_with_pinned_content(spark, name):
    build, rows, signature = DIMS[name]
    df = build(spark)
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    assert sorted(tuple(r) for r in df.collect()) == sorted(rows())
    assert _content_signature(df) == signature


def test_local_df_empty_is_typed(spark):
    df = local_df(spark, [], schemas.SOURCE_PRIORS)
    assert df.schema == schemas.SOURCE_PRIORS
    assert _content_signature(df) == (0, 0)


def test_local_df_accepts_ddl_and_mappings(spark):
    rows = [{"b": 2, "a": "x"}, ("y", None), {"a": "z"}]
    df = local_df(spark, rows, "a string, b long")
    assert df.schema == T.StructType.fromDDL("a string, b long")
    assert sorted(df.collect()) == [("x", 2), ("y", None), ("z", None)]


def test_local_df_rejects_bad_rows(spark):
    with pytest.raises(ValueError):
        local_df(spark, [(None, 0.1, 0.2)], schemas.SOURCE_PRIORS)
    with pytest.raises(TypeError):
        local_df(spark, [("src0", "0.1", 0.2)], schemas.SOURCE_PRIORS)


def test_library_tables_from_driver_rows_stay_checked_and_local(spark):
    from indra_db_spark.sources.knowledgebase import load_knowledgebase
    from indra_db_spark.sources.synth import page_topics

    assert (
        page_topics(spark, 20)._jdf.queryExecution().analyzed().nodeName()
        == "LocalRelation"
    )
    triple = ("Activation", "HGNC", "11998", "TP53", "HGNC", "10001", "MDM2")
    assert load_knowledgebase(spark, "signor", [triple]).count() == 1
    with pytest.raises(ValueError):
        load_knowledgebase(spark, "signor", [triple[:1] + (None,) + triple[2:]])
