"""session.local_rows_df: tiny driver-side relations."""

import pytest

from informationretrieval_en_people_cn_spark.session import local_rows_df

SCHEMA = "doc_id long, term string"


def test_local_rows_df_round_trips_rows(spark):
    rows = [(1, "a"), (2, "b")]
    assert [tuple(r) for r in local_rows_df(spark, rows, SCHEMA).collect()] == rows
    assert local_rows_df(spark, [], SCHEMA).count() == 0


@pytest.mark.parametrize(
    "rows",
    [
        [(1, "a", 3)],          # an extra field
        [(1,)],                 # a missing field
        [(1, "a"), (2,)],       # one short row among full ones
    ],
)
def test_local_rows_df_rejects_rows_of_the_wrong_arity(spark, rows):
    with pytest.raises(ValueError, match="fields"):
        local_rows_df(spark, rows, SCHEMA)
