"""Doc-vs-registry drift gates (round-7 verdict item 3).

Hand-maintained counts have drifted before (the COVERAGE.md
198-vs-199 pin). These tests make the docs self-checking, same
discipline as the no-HUGEINT oracle sweep: the committed text must
agree with the live registry or the suite goes red.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_coverage_md_registry_count_pin_matches_live_registry():
    """The newest '<N> as of round <R>' pin equals len(all_queries())."""
    from etl_on_weather_dataset_spark.plans import registry

    text = (REPO / "COVERAGE.md").read_text()
    pins = [
        (int(r), int(n))
        for n, r in re.findall(r"(\d+) as of round (\d+)", text)
    ]
    assert pins, "COVERAGE.md lost its 'as of round' registry-count pin"
    newest_round, pinned = max(pins)
    live = len(registry.all_queries())
    assert pinned == live, (
        f"COVERAGE.md pins {pinned} queries as of round {newest_round} "
        f"but the live registry has {live}; update the pin"
    )

