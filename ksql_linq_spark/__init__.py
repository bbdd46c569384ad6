"""PySpark-native analytics engine with the capabilities of synthaicode/Ksql.Linq.

Spark-first rebuild: declarative entity layer, validated query DSL,
Structured Streaming windowing, OHLC multi-timeframe cascade, and
large-scale training-data pipeline operators (dedup, similarity, text).
"""

from .context import SparkKsqlContext
from .entity import Column, Entity
from .query.builder import Query, StreamProcessingException, from_df
from .session import build_session

__all__ = [
    "SparkKsqlContext", "Column", "Entity",
    "Query", "StreamProcessingException", "from_df", "build_session",
]
