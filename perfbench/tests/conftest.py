import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# Spark's Python workers import phphinder_spark from the same checkout
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
