"""Transport providers (sinks): transport → batch writer, run once per
micro-batch.

The Spark analog of the TransportProvider SPI (reference:
datastream-server-api/.../transport/TransportProvider.java:15-65 —
send/flush/close + admin destination provisioning). ``registry.write_batch``
is the send; the PipelineManager runs it from one ``foreachBatch`` per
streaming query, and Structured Streaming's checkpoint commit after each
batch replaces send callbacks, flush ordering and the flush-then-commit
at-least-once invariant (EventProducer.java:296-385,
AbstractKafkaBasedConnectorTask.maybeCommitOffsets:649-740).
"""
