"""Row order of the dashboard page.

Every oracle check elsewhere compares rows as a set (``oracle_utils``), so
a page query that lost its ORDER BY would pass them all. Here each of the
page's 9 queries (the date picker and the 8 reports) must return its rows
in the same sequence as its DuckDB oracle. That sequence is fixed only if
the ORDER BY keys are unique and not null on the data, so that is checked
first; all 9 queries meet it on the smoke data.
"""

from __future__ import annotations

import pytest

from hhs_and_cms_data_pipeline_spark.registry import all_specs
from tests.conftest import SF_SMOKE
from tests.oracle_utils import canon_rows, duckdb_connection

# query -> its ORDER BY keys
PAGE_ORDER = {
    "r8_available_dates": ("collection_week",),
    "r1_weekly_count_trend": ("collection_week",),
    "r2_recent_weeks_summary": ("collection_week",),
    "r3_utilization_by_rating": ("rating",),
    "r4_weekly_state_totals": ("collection_week", "state"),
    "r5_sum_by_state": ("state",),
    "r6_bottom10_states": ("open_beds", "state"),
    "r7_not_reporting": ("customer_name",),
    "flagship_utilization": ("order_month", "nation"),
}


@pytest.fixture(scope="module")
def con():
    return duckdb_connection(SF_SMOKE)


@pytest.mark.parametrize("name", list(PAGE_ORDER))
def test_page_query_rows_in_oracle_order(spark, con, name):
    spec = all_specs()[name]
    df = spec.builder(spark, SF_SMOKE)
    cols, rows = df.columns, [tuple(r) for r in df.collect()]
    assert rows, f"{name} is empty on {SF_SMOKE}: its order shows nothing"

    keys = [tuple(r[cols.index(k)] for k in PAGE_ORDER[name]) for r in rows]
    assert all(None not in k for k in keys), f"{name}: a null ORDER BY key"
    assert len(set(keys)) == len(keys), f"{name}: ORDER BY keys repeat"

    res = con.execute(spec.oracle)
    oracle = canon_rows([d[0] for d in res.description], res.fetchall())
    assert canon_rows(cols, rows) == oracle
