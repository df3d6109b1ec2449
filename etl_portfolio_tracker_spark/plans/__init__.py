"""Physical-plan inspection and assertion helpers.

The engine's scale posture is enforced, not hoped for: tests assert
the plan properties that matter at 100 TB (filters reach the scan, a
bucketed join has no exchange, a dimension is broadcast), and
`PLANS.md` is the audited inventory. These helpers are the one place
that touches the JVM plan string.
"""

from .audit import (  # noqa: F401
    broadcast_joins,
    exchanges,
    partition_filters,
    physical_plan,
    pushed_filters,
    scan_columns,
    single_partition_cache_scans,
    single_partition_rows,
)
