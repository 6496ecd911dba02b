"""Operator inventory — importing this package populates the registry."""

from __future__ import annotations

from .registry import ORACLES, QUERIES, query, render_oracles  # noqa: F401

# Import order = inventory order in SURVEY.md §2.
from . import relational  # noqa: F401,E402
from . import subqueries  # noqa: F401,E402
from . import functions  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import events  # noqa: F401,E402
from . import text  # noqa: F401,E402
from . import dedup  # noqa: F401,E402
from . import sampling  # noqa: F401,E402
from . import vectors  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import streaming_ops  # noqa: F401,E402
from . import udfs  # noqa: F401,E402
from . import pipeline  # noqa: F401,E402  (appended last: keeps prior registry order stable)
from . import analytics  # noqa: F401,E402
from . import relational_ext  # noqa: F401,E402
from . import stats  # noqa: F401,E402
from . import retrieval  # noqa: F401,E402
from . import graph  # noqa: F401,E402
from . import tpch_gap  # noqa: F401,E402
from . import quantize  # noqa: F401,E402
from . import rollups  # noqa: F401,E402
from . import ranges  # noqa: F401,E402
from . import report  # noqa: F401,E402
from . import mining  # noqa: F401,E402
from . import sqlsurface  # noqa: F401,E402
from . import sketches  # noqa: F401,E402

render_oracles()
