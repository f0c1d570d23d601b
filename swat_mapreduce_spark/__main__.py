from pyspark import SparkContext

from swat_mapreduce_spark.cli import main
from swat_mapreduce_spark.session import _stop_jvm

try:
    rc = main()
finally:
    # the driver JVM exits once the gateway's stdin closes; wait for it,
    # so no JVM outlives the command
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        _stop_jvm(proc)
raise SystemExit(rc)
