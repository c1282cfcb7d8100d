import os, sys
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
from batch_process_dpla_index_spark.session import get_spark
spark = get_spark(shuffle_partitions=8)
from pyspark.sql import functions as F
from batch_process_dpla_index_spark.sources.tables import load_table, load_tables
import duckdb
print("READY")
