"""Empty-mirror gate: every registry entry must survive ZERO-ROW tables.

The dirty mirror (test_dirty_mirror.py) covers MALFORMED rows; this gate
covers ABSENT rows — at 100 TB an empty slice is routine (a source with no
documents today, an events partition with no rows for an hour, an
embeddings shard that filtered to nothing). A distributed job over an
empty slice must produce an empty (or well-defined degenerate) result —
never an analysis-time crash on array_min(array()) over zero trained
centroids, an IndexError on rows[0] of an empty codebook sample, or an
opaque MLlib fit failure. First run of this gate (round 7) found 14
entries dying on empty input; 9 were fixed (cluster/PQ empty-quantizer
guards, loud typed error + entry-level degrade for the classifier), 5
(the BLAS/LSH numpy kernels) were deferred on the r7/r8 staleness budget
and fixed in round 9 (modal-dim probe + per-batch row masking,
functions/cleanvec.py) — the deferral list and its canary are gone, the
gate covers all entries with ZERO exemptions.

Policy mirror of the dirty gate: zero exceptions, no exemptions; row
counts are free (they will be 0).
"""

import sys

import pytest

from auto_vectordb_spark.plans.parity import REGISTRY

sys.path.insert(0, "/root/repo/tools")
from empty_probe import make_empty_dir  # noqa: E402


# rows=0: the empty slice. rows=1: the TINY slice — same contract, but a
# different crash surface (k-greater-than-n training seeds, ANSI
# INVALID_ARRAY_INDEX on second-nearest lookups, single-row window
# frames); first run found lloyd's centroid update indexing range(k)
# over n<k seeds.
@pytest.fixture(scope="module", params=[0, 1], ids=["empty", "one-row"])
def mirror_dir(request, tmp_path_factory):
    dst = tmp_path_factory.mktemp(f"mirror_sf_{request.param}")
    make_empty_dir(str(dst), rows=request.param)
    return request.param, str(dst)


def test_all_entries_survive_empty_and_tiny_tables(spark, mirror_dir):
    rows, path = mirror_dir
    failures = {}
    for name, q in REGISTRY.items():
        try:
            q.spark(spark, path).collect()
        except Exception as e:  # noqa: BLE001 — any crash is the finding
            failures[name] = f"{type(e).__name__}: {str(e)[:200]}"
    assert not failures, (
        f"{len(failures)} entries die on {rows}-row tables (an empty/tiny "
        f"slice must yield a degenerate result, not kill the job): {failures}"
    )
