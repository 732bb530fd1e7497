"""kaskada_spark — a from-scratch PySpark-native temporal feature engine.

Re-creates the query/data-processing capabilities of Kaskada
(reference: YoshiyukiKono/kaskada, a fork of kaskada-ai/kaskada) as an
idiomatic PySpark engine: timelines (entity-keyed, event-time-ordered
streams) expressed as DataFrame plans that Catalyst optimizes, with a
small number of Arrow-vectorized stateful stages for what Spark's
built-ins cannot express (count-based sliding windows, shift buffers,
streaming state machines).

Nothing here is a port: the reference is a single-process Rust/Arrow
dataflow engine; this package declares logical plans with the DataFrame
API and lets Catalyst/Tungsten/AQE pick physical strategies, which is
what makes it viable at 100 TB / 1000-executor scale.
"""

from kaskada_spark import _worker

_worker.install()

from kaskada_spark.fenl import fenl  # noqa: E402
from kaskada_spark.fenl.materialize import materialize_fenl  # noqa: E402
from kaskada_spark.session import get_spark  # noqa: E402
from kaskada_spark.timeline import Timeline  # noqa: E402
from kaskada_spark.windows import Since, Sliding, Tick, daily, hourly, minutely, monthly, yearly  # noqa: E402

__all__ = [
    "get_spark", "Timeline", "Since", "Sliding", "Tick", "fenl",
    "materialize_fenl",
    "minutely", "hourly", "daily", "monthly", "yearly",
]

__version__ = "0.1.0"
