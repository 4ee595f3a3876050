"""The benchmark's workloads, by name."""

from .backfill import BackfillWorkload
from .increment import IncrementWorkload

WORKLOADS = {
    "backfill": BackfillWorkload,
    "increment": IncrementWorkload,
}
