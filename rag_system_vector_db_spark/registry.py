"""Query registry: every SURVEY §2 operator as (Spark callable, DuckDB oracle).

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` is
ANSI SQL DuckDB runs on the same parquet views. Column names/aliases
match exactly; float columns are rounded to 6 decimals on both sides
AFTER any ordering/ranking on full precision, so value-hashes agree.

r6: mechanically split by SURVEY §2 family into
``registry_parts/partNN_*`` (statements unedited; the one-shot split
script was deleted once the parts became the source); importing this
module imports every part in the original order, so registration order
and the driver's 50-entry window are byte-identical to the monolith.
"""

from __future__ import annotations

from .registry_core import (  # noqa: F401
    LAZY_ORACLES,
    ORACLES,
    QUERIES,
    query,
)
from . import registry_parts  # noqa: F401  (imports run registrations)
