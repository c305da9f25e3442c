#!/bin/sh
# Build polars-index-ext.jar from every src/**/*.java against the
# pyspark-bundled Spark and Hadoop jars.
# Requires only JDK (javac/jar) — no Maven/Gradle/scalac.
set -e
cd "$(dirname "$0")"
SPARK_JARS=$(python3 -c "import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
rm -rf classes && mkdir -p classes
find src -name '*.java' | sort > classes/sources.txt
javac -proc:none -encoding UTF-8 -cp "$SPARK_JARS/*" -d classes @classes/sources.txt
rm classes/sources.txt
jar cf polars-index-ext.jar -C classes .
echo "built $(pwd)/polars-index-ext.jar"
