package com.mongodb

/** Test-scope stand-ins for the Mongo Java driver's timeout exceptions,
  * under the driver's fully qualified names (the driver is not on the
  * classpath). Each has the real type's shape where the token store
  * looks: the name, the superclass and `getCode`; none has a JDK cause.
  */
class MongoException(msg: String) extends RuntimeException(msg)

class MongoServerException(code: Int, msg: String) extends MongoException(msg) {
  def getCode: Int = code
}

class MongoTimeoutException(msg: String) extends MongoException(msg)

class MongoOperationTimeoutException(msg: String)
  extends MongoTimeoutException(msg)

class MongoExecutionTimeoutException(code: Int, msg: String)
  extends MongoServerException(code, msg)

/** Thrown with the write-concern error's code: 64 (WriteConcernFailed)
  * when `withWTimeout` expires, 100 (UnsatisfiableWriteConcern) when the
  * concern cannot be met at all.
  */
class MongoWriteConcernException(code: Int, msg: String)
  extends MongoServerException(code, msg)
