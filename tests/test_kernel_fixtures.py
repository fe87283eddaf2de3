"""Golden-fixture parity with the reference boolean test corpus.

Runs every fixture the reference's own runner executes
(iOverlay/tests/overlay_tests.rs — indices 0-143 and 150-152; the remaining JSON
files in tests/boolean/ are stale and not invoked by any #[test]) across all 7
overlay rules, comparing with a rotation-invariant, variant-accepting,
order-canonicalizing comparator (iOverlay/tests/util.rs:8-60 analog).
"""

from pathlib import Path

import pytest

from ioverlay_spark.kernel import build_graph
from ioverlay_spark.kernel.fixtures import (
    FIXTURE_DIR,
    canonical,
    load_fixture,
    shapes_match_any,
)
from ioverlay_spark.options import OverlayOptions

pytestmark = pytest.mark.skipif(
    not Path(FIXTURE_DIR).exists(), reason=f"fixture corpus {FIXTURE_DIR} not available"
)

EXECUTED = list(range(144)) + [150, 151, 152]


@pytest.mark.parametrize("index", EXECUTED)
def test_boolean_fixture(index):
    fx = load_fixture(index)
    graph = build_graph(fx["subj"], fx["clip"], fx["fill_rule"], OverlayOptions.fixture_defaults())
    for rule, variants in fx["expected"].items():
        result = graph.extract(rule)
        assert shapes_match_any(result, variants), (
            f"fixture {index} rule {rule.value}: got {canonical(result)}"
        )
