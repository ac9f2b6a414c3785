"""Report the registry's driver-certification state.

For each registered query, the LATEST round with a fully-green driver
row (rows_match + schema_match + hash_match) in CORRECTNESS_r*.json.
The registry's certification ordering (never-certified first, then
oldest-certification-first) is computed from the same files when
alphalens_spark.entry_queries is imported, so this tool only reads.

Usage:  python tools/cert_order.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from alphalens_spark.entry_queries import (  # noqa: E402
    QUERIES,
    _latest_green_rounds as latest_green_rounds,
)


def main() -> None:
    latest = latest_green_rounds()
    by_round: dict[int, int] = {}
    for n in QUERIES:
        if n in latest:
            by_round[latest[n]] = by_round.get(latest[n], 0) + 1
    for rnd in sorted(by_round):
        print(f"latest green r{rnd:02d}: {by_round[rnd]} queries")
    never = [n for n in QUERIES if n not in latest]
    print(
        f"{len(QUERIES) - len(never)} certified, "
        f"{len(never)} never-certified{': ' if never else ''}{never or ''}"
    )


if __name__ == "__main__":
    main()
