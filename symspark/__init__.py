"""symspark — a PySpark-native symbolication / log-enrichment analytics engine.

A from-scratch re-expression of the capabilities of
honeycombio/opentelemetry-collector-symbolicator (a Go OTel collector distro
with sourcemap / dSYM / proguard symbolication processors) as an idiomatic
Spark pipeline: parse (JVM regex and JSON expressions, no Python worker)
-> enrich (broadcast hash joins against symbol lookup tables) -> route
(per-row route key, fan-out sinks) -> aggregate (per-sink counters
mirroring the reference's internal telemetry).

Reference behavior citations use file:line paths relative to /root/reference.
"""

__version__ = "0.1.0"

from symspark.config import PipelineConfig  # noqa: F401
