"""fiveg_spark — PySpark-native 5G traffic analytics & forecasting engine.

A Spark-first re-expression of the capabilities of the reference repo
``Adxrsh-17/5g-var-gru-tft-hybrid`` (PCAP → packet events → 36 KPIs →
VAR-GRU-TFT hybrid forecasting), extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis, multimodal
columns).  See SURVEY.md for the operator inventory.
"""

from fiveg_spark import zipguard
from fiveg_spark.session import get_spark

# first import in a Python worker: later tasks skip re-parsing the jar
# and pyspark.zip directories (see zipguard)
zipguard.install()

__all__ = ["get_spark"]
__version__ = "0.5.0"
