"""openelevationservice_spark — PySpark-native spatial-join + tiling engine."""

from .plans.worker import install_zip_stamp_cache

# a Spark Python worker imports the package when it unpickles a kernel
install_zip_stamp_cache()
