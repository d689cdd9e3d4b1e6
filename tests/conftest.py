import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_spark.session import get_spark  # noqa: E402

# the off-tier-1 profile of tests/test_seen_state_model.py, loaded with
# --hypothesis-profile=seen-state-long (tier-1 runs 3 examples x 5 steps)
settings.register_profile("seen-state-long", max_examples=12, stateful_step_count=10)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("crawler_spark_tests", cores=os.environ.get("SPARK_TEST_CPUS", "8"))
    yield s
    s.stop()
