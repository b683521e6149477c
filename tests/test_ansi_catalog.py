"""Catalog execution sweep at sf0.01 in the engine's one SQL mode.

Every catalog query must execute to completion on the sf0.01 test
data under the engine session, which runs Spark 4's ANSI-on default,
the mode the correctness gate certifies in. ANSI errors (an
out-of-bounds ``element_at``, an overflow cast, an unguarded division)
are data-dependent and can first appear on rows that only exist at the
larger scale, so this sweep runs at the gate's sf0.01 rather than the
suite's sf0.001. The oracle compare checks values; this sweep checks
the error class.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.01"


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_survives_ansi_on(spark, name):
    entry.queries()[name](spark, SF_DIR).collect()
