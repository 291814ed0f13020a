"""Pins for bench.py's convergence rule (no Spark needed).

bench.py ranks only the passes with the fewest failed queries, and stops
taking passes once the two fastest of those agree within 10% and the
fastest lost less than perfbench's QUIET_STEAL_SHARE of the machine's CPU
to hypervisor steal: two passes that lost the same CPU also agree, so
agreement alone does not show the minimum is reproduced.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import converged, ranked_passes
from perfbench.run import CPUS


def _pass(wall_s: float, stolen: float = 0.0, errors: int = 0) -> dict:
    """A pass record whose stolen share of the machine's CPU is ``stolen``
    and in which ``errors`` queries failed."""
    return {"wall_s": wall_s, "steal_s": stolen * wall_s * CPUS,
            "errors": {f"q{i}": "Connection refused" for i in range(errors)}}


class TestConverged:
    def test_close_walls_with_quiet_fastest_pass_stop(self):
        assert converged([_pass(80.0), _pass(75.0)])

    def test_close_walls_with_stolen_fastest_pass_continue(self):
        assert not converged([_pass(80.0), _pass(75.0, stolen=0.05)])

    def test_stolen_slower_pass_does_not_block(self):
        # Only the reported (fastest) pass has to be quiet.
        assert converged([_pass(80.0, stolen=0.05), _pass(75.0)])

    def test_one_wall_continues(self):
        assert not converged([_pass(75.0)])
        assert not converged([])

    def test_walls_more_than_ten_percent_apart_continue(self):
        assert not converged([_pass(90.0), _pass(75.0)])

    def test_faster_pass_with_more_errors_does_not_stop(self):
        # A pass in which queries failed fast is no second wall.
        assert not converged([_pass(80.0), _pass(75.0, errors=100)])
        assert converged([_pass(80.0, errors=1), _pass(78.0, errors=1), _pass(40.0, errors=3)])

    def test_faster_pass_with_more_errors_is_not_reported(self):
        passes = [_pass(80.0, errors=1), _pass(50.0, errors=100), _pass(85.0, errors=1)]
        assert [p["wall_s"] for p in ranked_passes(passes)] == [80.0, 85.0]
