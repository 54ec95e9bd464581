"""The composed-query tests of test_composed.py that take ``cores``,
with unchanged assertions and every search() sent to the Spark route.

pytest collects the test functions imported here as tests of this
module, so they take this module's ``cores`` fixture.
"""

import pytest
from test_composed import *  # noqa: F401,F403  the tests and their fixtures

# route-specific already, or never searching: run once, in test_composed
del test_composed_jobs_carry_composed_tags, test_key_filters_run_no_job
del test_wire_dict_round_trip_edge_cases, test_composed_query_wire_match_validation


@pytest.fixture()
def cores(built_cores, spark_route):
    """The three cores, searched on the Spark route."""
    return built_cores
