#!/bin/sh
# Start one of Spark's Python workers from the installed PySpark.
#
# Spark puts $SPARK_HOME/python/lib/pyspark.zip first on every Python
# worker's PYTHONPATH. The zip holds no bytecode, so each worker would
# compile PySpark from source before it does any work. This drops that
# one entry, keeps every other entry in order (the package root among
# them: UDFs unpickle from it), and execs the worker interpreter that
# session.python_workers wrapped (Spark's default when none is named).
# session.python_workers installs this only when the installed PySpark
# is the JVM's Spark version.
rest=$PYTHONPATH
path= sep=
while :; do
    entry=${rest%%:*}
    case $entry in
        */python/lib/pyspark.zip) ;;
        *) path=$path$sep$entry; sep=: ;;
    esac
    [ "$rest" = "$entry" ] && break
    rest=${rest#*:}
done
export PYTHONPATH="$path"
exec "${NVE_WORKER_PYTHON:-python3}" "$@"
