"""PySpark-native web-scale extraction engine (README.md).

Importing the package guards zipimport's archive re-read (``zipcache``):
every engine UDF imports it in the Spark Python worker, where PySpark
invalidates the import caches at the start of each task.
"""

from . import zipcache as _zipcache

_zipcache.install()
