"""Registry pin: the query registry's names and oracle texts.

Module moves and refactors of the code the oracles are built from (the
census oracles embed ``fake_census`` wire bodies and
``census.STATE_FIPS`` chunks at import) must leave every name and every
oracle text byte-identical."""

from __future__ import annotations

import hashlib

from clean_census_acs_data_spark.queries import ORACLES, QUERIES

ORACLES_SHA256 = "a12f33d6dd7d22e5f55464e10190f04dd3d8b9bb65e0b2eaf28da579b06f89db"


def test_registry_names_and_oracle_texts_are_pinned():
    assert len(QUERIES) == 396
    assert len(ORACLES) == 393
    assert set(ORACLES) <= set(QUERIES)
    digest = hashlib.sha256(repr(sorted(ORACLES.items())).encode()).hexdigest()
    assert digest == ORACLES_SHA256
