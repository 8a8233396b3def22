"""The query catalog, in driver-window order.

The driver checks only the first DRIVER_WINDOW catalog entries against
their DuckDB oracles each round (CORRECTNESS_r01 stops at 50 of 61), so
catalog order decides which entries get the hard differential signal.
:func:`driver_order` derives that order from the repo's own records: the
``CORRECTNESS_r*.json`` rows and the ``regate_round`` stamps that
``scripts/update_entry_hashes.py`` writes into ``entry_hashes.json``.
The window therefore moves by itself when a round's CORRECTNESS file
lands or when a code change is stamped.
"""

from . import fingerprint
from . import llm_catalog as _llm
from .catalog import CATALOG, QuerySpec

if not any(s.tags and "llm" in s.tags for s in CATALOG):
    CATALOG.extend(_llm.LLM_CATALOG)

DRIVER_WINDOW = 50  # observed driver evaluation cap (CORRECTNESS_r01.json)
#: An oracle-backed entry whose last green driver row is this many rounds
#: old is stale and must be in the window.  184 oracle-backed entries over
#: 50 slots need a 3.7-round cycle at best, so 3 rounds cannot be met.
STALENESS_ROUNDS = 4
#: The one oracle-less entry the driver's rows-only check may spend a slot
#: on: DataSketches digests have no DuckDB oracle.  It takes a slot only
#: while a re-check is owed, never for staleness.
ROWS_ONLY_GATED = "sketch_daily_user_hll"


def driver_order(specs, greens, regate):
    """``specs`` sorted by driver priority: never driver-checked, then
    re-check owed (``regate[name]`` > last green round), then oldest last
    green round, then name.  ``greens`` maps name -> last green driver
    round, ``regate`` maps name -> stamped re-check round.  Oracle-less
    entries sort last, except :data:`ROWS_ONLY_GATED` while owed.  Old
    greens come before new ones because the driver regenerates its test
    data each round, so an old green row can hide a break.  A red row
    leaves the last green round where it was; the fix that follows is
    stamped, so it is owed."""

    def key(spec):
        green = greens.get(spec.name, 0)
        owed = regate.get(spec.name, 0) > green
        slotless = spec.oracle is None and not (
            spec.name == ROWS_ONLY_GATED and owed
        )
        return (slotless, green > 0, not owed, green, spec.name)

    return sorted(specs, key=key)


CATALOG[:] = driver_order(
    CATALOG,
    fingerprint.last_green_rounds(),
    {name: rec["regate_round"] for name, rec in fingerprint.load_recorded().items()},
)

__all__ = [
    "CATALOG",
    "QuerySpec",
    "DRIVER_WINDOW",
    "ROWS_ONLY_GATED",
    "STALENESS_ROUNDS",
    "driver_order",
]
