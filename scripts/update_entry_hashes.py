"""Refresh plans/entry_hashes.json — the per-entry source-fingerprint
record behind the driver window's re-check rule.

Run after changing any operator module or catalog entry:

    python scripts/update_entry_hashes.py

Entries whose fingerprint changed are stamped with
``regate_round = <next driver round>``.  Until a CORRECTNESS_r{N}.json
with N >= regate_round shows them green, ``plans.driver_order`` ranks
them into the 50-slot driver window at import; no other step is needed.
Entries whose fingerprint is unchanged keep their existing stamp, so an
already-verified entry is never re-dragged into the window by someone
ELSE'S edit to an unrelated module.

After stamping, the script prints the derived window's make-up: how many
slots go to never-checked entries, to owed re-checks, and to refreshes
of each last-green round.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_pyspark_streaming_analytics_spark.plans import (  # noqa: E402
    CATALOG,
    DRIVER_WINDOW,
    driver_order,
)
from hadoop_pyspark_streaming_analytics_spark.plans import fingerprint as fp  # noqa: E402


def window_makeup(records: dict[str, dict]) -> str:
    """One line: the derived window's slot count per ordering rule."""
    greens = fp.last_green_rounds()
    regate = {n: r["regate_round"] for n, r in records.items() if n != "__meta__"}
    never = owed = 0
    refresh: Counter[int] = Counter()
    for spec in driver_order(CATALOG, greens, regate)[:DRIVER_WINDOW]:
        green = greens.get(spec.name, 0)
        if not green:
            never += 1
        elif regate.get(spec.name, 0) > green:
            owed += 1
        else:
            refresh[green] += 1
    by_round = ", ".join(f"r{r:02d}: {n}" for r, n in sorted(refresh.items()))
    return (f"window ({DRIVER_WINDOW} slots): never-checked {never}, "
            f"re-check {owed}, refresh {by_round or 'none'}")


def main() -> None:
    records, changed = fp.refresh_hashes(CATALOG)
    with open(fp.HASHES_PATH, "w") as f:
        json.dump(records, f, indent=1, sort_keys=True)
        f.write("\n")
    n = len(records) - ("__meta__" in records)
    print(f"{n} entries recorded (python {fp.PY_VERSION}) -> {fp.HASHES_PATH}")
    if changed:
        print(f"{len(changed)} changed (stamped regate_round="
              f"{records[changed[0]]['regate_round']}):")
        for name in changed:
            print(f"  {name}")
    else:
        print("no fingerprint changes")
    print(window_makeup(records))


if __name__ == "__main__":
    main()
