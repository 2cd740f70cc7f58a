"""Recording sink clients for the serving pipeline's injectable factories.

The engine calls these inside executor Python workers, so whatever they
receive is sent back to the driver through a list accumulator: a driver-side
attribute would stay empty. Workers import this module by name, so the
checkout root must be on the workers' ``PYTHONPATH``.
"""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam


class ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class RecordingStore:
    """Redis-pipeline-like client: ``set``/``delete`` queue, ``execute``
    ships the queued ``(verb, key, value)`` ops to the driver."""

    def __init__(self, acc):
        self.acc = acc
        self.ops = []

    def set(self, key, value):
        self.ops.append(("set", key, value))

    def delete(self, key):
        self.ops.append(("del", key, None))

    def execute(self):
        self.acc.add(self.ops)
        self.ops = []


class RecordingProducer:
    """Kafka-producer-like client: ``send`` queues ``(key, value)``,
    ``flush`` ships them to the driver."""

    def __init__(self, acc):
        self.acc = acc
        self.records = []

    def send(self, key, value):
        self.records.append((key, value))

    def flush(self):
        self.acc.add(self.records)
        self.records = []


class Recorder:
    """Driver-side owner of the two accumulators; ``drain`` returns and
    clears what the clients sent since the last drain."""

    def __init__(self, sc):
        self.store_acc = sc.accumulator([], ListParam())
        self.log_acc = sc.accumulator([], ListParam())

    def store_factory(self):
        acc = self.store_acc
        return lambda: RecordingStore(acc)

    def producer_factory(self):
        acc = self.log_acc
        return lambda: RecordingProducer(acc)

    def drain(self):
        ops, records = self.store_acc.value, self.log_acc.value
        self.store_acc.value = []
        self.log_acc.value = []
        return ops, records
